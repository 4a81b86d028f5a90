"""Behavioral tests for the analytics queries (funnel ordering,
islands run-splitting) on crafted event sequences."""

import pytest

from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY


def _events(spark, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, value double, props string"
    ).selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id", "event_type", "value", "props"
    )
    return df


@pytest.mark.slow
def test_funnel_requires_stage_order(spark, tmp_path):
    rows = [
        # user 1: full ordered funnel
        (1, "2024-01-01 00:00:00", 1, "view", 0.0, "{}"),
        (2, "2024-01-01 00:01:00", 1, "click", 0.0, "{}"),
        (3, "2024-01-01 00:02:00", 1, "purchase", 0.0, "{}"),
        # user 2: view -> click, but the purchase PRECEDES the first
        # click -> click credit yes, purchase credit no
        (4, "2024-01-01 00:00:00", 2, "view", 0.0, "{}"),
        (5, "2024-01-01 00:02:00", 2, "purchase", 0.0, "{}"),
        (6, "2024-01-01 00:03:00", 2, "click", 0.0, "{}"),
        # user 3: click with NO prior view -> no click stage credit
        (7, "2024-01-01 00:00:00", 3, "click", 0.0, "{}"),
    ]
    d = str(tmp_path)
    _events(spark, rows).write.mode("overwrite").parquet(d + "/events.parquet")
    got = {
        r.stage: r.n_users
        for r in REGISTRY["funnel_conversion"].fn(spark, d).collect()
    }
    assert got == {"view": 2, "click_after_view": 2, "purchase_after_click": 1}


@pytest.mark.slow
def test_islands_split_on_interleave(spark, tmp_path):
    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 0.0, "{}"),
        (2, "2024-01-01 00:01:00", 1, "view", 0.0, "{}"),
        (3, "2024-01-01 00:02:00", 1, "click", 0.0, "{}"),
        (4, "2024-01-01 00:03:00", 1, "view", 0.0, "{}"),  # new view run
    ]
    d = str(tmp_path)
    _events(spark, rows).write.mode("overwrite").parquet(d + "/events.parquet")
    runs = sorted(
        (r.event_type, r.run_start, r.n_events)
        for r in REGISTRY["event_type_islands"].fn(spark, d).collect()
    )
    assert runs == [
        ("click", "2024-01-01 00:02:00", 1),
        ("view", "2024-01-01 00:00:00", 2),
        ("view", "2024-01-01 00:03:00", 1),
    ]


@pytest.mark.slow
def test_unigram_logprob_ranks_common_text_higher(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        unigram_logprob,
    )

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the rug"),
        (2, "zyx qwv jkp xxq zzt opq"),  # rare-token soup
        (3, ""),  # zero tokens -> NULL score
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    s = {r.doc_id: r.lm_score for r in unigram_logprob(df).collect()}
    assert s[3] is None
    # docs built from corpus-frequent tokens must outscore the
    # rare-token soup (every soup token has tf=1)
    assert s[0] > s[2] and s[1] > s[2]


@pytest.mark.slow
def test_source_reputation_separates_sources(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        source_reputation,
    )

    rows = [
        (0, "the cat is in the house and a dog", "clean"),
        (1, "the sun is up and the day is new", "clean"),
        (2, "$$$ !!! ### %%% @@@ ^^^ &&& ***", "spam"),
        (3, "!!! ??? $$$ ### @@@ %%% ^^^ (((", "spam"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    rep = {r.source: (r.n_docs, r.source_quality) for r in source_reputation(df).collect()}
    assert rep["clean"][0] == 2 and rep["spam"][0] == 2
    # stopword-rich prose outscores pure punctuation soup
    assert rep["clean"][1] > rep["spam"][1]


@pytest.mark.slow
def test_approx_distinct_within_error_bound(spark):
    """The HLL estimate must sit within 5x the configured rsd of the
    exact count on both fixture scales (VERDICT r05 item 6)."""
    from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY
    from tests.conftest import SF_DIR

    for sf_dir in (SF_DIR, "/root/testdata/sf0.01"):
        row = REGISTRY["approx_distinct_error"].fn(spark, sf_dir).collect()[0]
        assert row.within_bound, f"{sf_dir}: HLL estimate off by >10%"
        exact = row.n_exact
        approx = (
            REGISTRY["approx_distinct_customers"].fn(spark, sf_dir).collect()[0].n_approx
        )
        assert abs(approx - exact) / exact <= 0.10


# ---------------------------------------------------------------------------
# Round-6 second wave: CMS heavy hitters, temperature mixing,
# readability, BPE pair mining, Z-order layout
# ---------------------------------------------------------------------------


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


@pytest.mark.slow
def test_cms_estimate_never_undercounts(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        cms_heavy_hitters,
    )

    texts = ["the cat sat on the mat", "the dog", "cat cat cat", "mat the"]
    rows = cms_heavy_hitters(_docs_df(spark, texts), topn=1000).collect()
    assert rows, "no tokens counted"
    for r in rows:
        assert r.est_count >= r.exact_count, f"{r.word}: CMS undercounted"
        assert r.overcount == r.est_count - r.exact_count
    by_word = {r.word: r for r in rows}
    assert by_word["the"].exact_count == 4 and by_word["cat"].exact_count == 4
    # rank 1 is the largest estimate (ties -> lexicographic word)
    assert min(r.rank for r in rows) == 1
    assert max(r.est_count for r in rows) == by_word[[r.word for r in rows if r.rank == 1][0]].est_count


@pytest.mark.slow
def test_cms_narrow_sketch_overcounts_but_keeps_bound(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        cms_heavy_hitters,
    )

    # width 2: heavy collisions guaranteed; one-sided error must hold
    texts = ["a b c d e f g h " * 3]
    rows = cms_heavy_hitters(_docs_df(spark, texts), width=2, topn=100).collect()
    n_total = 8 * 3
    for r in rows:
        assert r.exact_count <= r.est_count <= n_total


@pytest.mark.slow
def test_temperature_recipe_weights_normalize_and_flatten(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        temperature_mix_recipe,
    )

    df = spark.createDataFrame(
        [(i, "x", "en" if i < 80 else ("de" if i < 95 else "fr"), "s", 1) for i in range(100)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.lang: r for r in temperature_mix_recipe(df, alpha=0.5, budget_frac=0.5).collect()}
    assert abs(sum(r.mix_weight for r in out.values()) - 1.0) < 1e-5
    assert abs(sum(r.expected_docs for r in out.values()) - 50.0) < 1e-4
    # alpha < 1 flattens: low-resource lang gets MORE than its share,
    # high-resource less
    assert out["fr"].mix_weight > 0.05 and out["en"].mix_weight < 0.8
    assert all(0 < r.sample_rate <= 1.0 for r in out.values())
    # alpha=1 degenerates to proportional sampling: uniform sample_rate
    prop = {r.lang: r for r in temperature_mix_recipe(df, alpha=1.0, budget_frac=0.5).collect()}
    rates = {round(r.sample_rate, 6) for r in prop.values()}
    assert rates == {0.5}


def test_readability_counts_and_null_guard(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import readability

    df = _docs_df(spark, ["The cat sat. The dog ran!", "", "word"])
    out = {r.doc_id: r for r in readability(df).collect()}
    assert (out[0].n_words, out[0].n_sentences) == (6, 2)
    assert out[0].flesch is not None
    # empty doc: zero words -> NULL flesch, not a crash
    assert out[1].n_words == 0 and out[1].flesch is None
    # no sentence punctuation -> floor of 1 sentence
    assert out[2].n_sentences == 1


def test_bpe_pairs_weighted_by_word_frequency(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        bpe_pair_counts,
    )

    # 'ab' occurs 3x as a word (pair ab x3); 'abc' once (ab, bc)
    df = _docs_df(spark, ["ab ab abc", "ab x"])
    out = {r.pair: (r.freq, r.rank) for r in bpe_pair_counts(df, topn=10).collect()}
    assert out["ab"] == (4, 1)
    assert out["bc"] == (1, 2)
    assert "x" not in out  # single-char words contribute no pairs


def test_zorder_files_are_local_in_both_dimensions(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.maintenance import (
        zorder_layout,
    )
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    orders = read_table(spark, SF_DIR, "orders")
    total = orders.count()
    ck_lo, ck_hi = orders.selectExpr("min(o_custkey)", "max(o_custkey)").first()
    files = zorder_layout(orders).collect()
    assert sum(f.n_rows for f in files) == total
    assert all(0 <= f.file_id < 16 for f in files)
    # Z-order locality: every file's custkey box spans at most ~half
    # the global range (4 quantization cells of 16), so a custkey
    # point-predicate can prune most files. A date sort would leave
    # custkey boxes spanning the full range.
    span = ck_hi - ck_lo + 1
    for f in files:
        assert f.max_custkey - f.min_custkey <= span // 2 + span // 16
        assert f.min_orderdate <= f.max_orderdate


def test_events_anomaly_flags_spike_not_history(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: alternating 1/2 history, then a huge spike
    for i in range(10):
        rows.append((i, base + dt.timedelta(minutes=i), 1, "view", 1.0 + (i % 2), "{}"))
    rows.append((10, base + dt.timedelta(minutes=10), 1, "view", 100.0, "{}"))
    # user 2: too little history for any scoring
    rows.append((11, base, 2, "view", 0.0, "{}"))
    rows.append((12, base + dt.timedelta(minutes=1), 2, "view", 500.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    from calculate_file_content_size_for_vector_db_spark.operators.relational import (
        rolling_anomalies,
    )

    out = rolling_anomalies(df).collect()
    assert [r.event_id for r in out] == [10]
    assert out[0].z > 3 and abs(out[0].mean_prev - 1.5) < 0.01


def test_events_anomaly_zero_variance_not_scored(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [(i, base + dt.timedelta(minutes=i), 1, "view", 5.0, "{}") for i in range(10)]
    rows.append((10, base + dt.timedelta(minutes=10), 1, "view", 9.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    from calculate_file_content_size_for_vector_db_spark.operators.relational import (
        rolling_anomalies,
    )

    # constant history -> zero variance -> no z-score, no div-by-zero row
    assert rolling_anomalies(df).collect() == []


def test_key_skew_profile_arithmetic(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.maintenance import (
        key_skew_profile,
    )

    df = spark.createDataFrame(
        [(k,) for k in ["a"] * 8 + ["b"] + ["c"]], "k string"
    )
    r = key_skew_profile(df, "k").collect()[0]
    assert (r.n_keys, r.n_rows, r.max_count) == (3, 10, 8)
    assert r.p50 == 1.0 and r.top1_share == 0.8 and r.skew_ratio == 8.0


def test_bigram_lm_sees_word_order(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        bigram_logprob,
    )

    # corpus dominated by the ordered phrase; one doc scrambles it
    docs = [(i, "the cat sat on the mat") for i in range(10)]
    docs.append((10, "mat the on sat cat the"))
    docs.append((11, "single"))  # < 2 tokens -> NULL score
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.doc_id: r.lm2_score for r in bigram_logprob(df).collect()}
    assert out[0] > out[10], "ordered text must outscore scrambled text"
    assert out[11] is None


def test_cohort_retention_counts(spark):
    import datetime as dt

    # user 1 first seen week of Jan 1 (Mon), active again 2 weeks later;
    # user 2 same cohort, only week 0; user 3 next week's cohort
    rows = [
        (0, dt.datetime(2024, 1, 2), 1), (1, dt.datetime(2024, 1, 16), 1),
        (2, dt.datetime(2024, 1, 3), 2),
        (3, dt.datetime(2024, 1, 9), 3), (4, dt.datetime(2024, 1, 10), 3),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, "view", 1.0, "{}") for i, ts, u in rows],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    from calculate_file_content_size_for_vector_db_spark.operators.relational import (
        cohort_retention,
    )

    out = {(r.cohort_week, r.week_n): r.n_users for r in cohort_retention(df).collect()}
    assert out[("2024-01-01", 0)] == 2       # users 1 and 2
    assert out[("2024-01-01", 2)] == 1       # user 1 returns in week 2
    assert out[("2024-01-08", 0)] == 1       # user 3's cohort; same-week repeat not double-counted
    assert ("2024-01-08", 1) not in out


def test_rfm_segments_quartiles(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.relational import rfm_segments
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    out = rfm_segments(read_table(spark, SF_DIR, "orders")).collect()
    n = len(out)
    assert n > 0
    for s in ("r_score", "f_score", "m_score"):
        vals = [getattr(r, s) for r in out]
        assert set(vals) <= {1, 2, 3, 4}
        # ntile balance: quartile sizes differ by at most 1
        from collections import Counter

        c = Counter(vals)
        assert max(c.values()) - min(c.values()) <= 1
    best = [r for r in out if r.segment == "111"]
    worst = [r for r in out if r.segment == "444"]
    if best and worst:
        assert min(r.monetary for r in best) >= max(r.monetary for r in worst)


def test_salted_join_identical_to_plain_join(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.maintenance import salted_join

    fact = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(50)], "event_id long, user_id long, value double"
    )
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "user_id long, tag string")
    got = sorted(
        map(tuple, salted_join(fact, dim, "user_id", n_salts=4, salt_src="event_id")
            .select("event_id", "user_id", "value", "tag").collect())
    )
    want = sorted(map(tuple, fact.join(dim, "user_id").select("event_id", "user_id", "value", "tag").collect()))
    assert got == want and len(got) == 50


@pytest.mark.slow
def test_bm25_ranks_exact_phrase_doc_first(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import bm25_search

    df = _docs_df(
        spark,
        [
            "spark hash join performance",          # all 3 query terms
            "hash join",                            # 2 terms, shorter doc
            "spark spark spark filler words here",  # 1 term repeated
            "completely unrelated content words",   # 0 terms
        ],
    )
    out = bm25_search(df, [(0, "spark hash join")], topn=10).collect()
    ranked = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked[0] == 0                      # covers all terms -> top
    assert 3 not in ranked                     # no matching term, no row
    assert all(r.score > 0 for r in out)       # Lucene +1 idf keeps scores positive


def test_event_transitions_probabilities(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    seq = ["view", "click", "view", "click", "view", "purchase"]
    rows = [
        (i, base + dt.timedelta(minutes=i), 1, t, 0.0, "{}") for i, t in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    from calculate_file_content_size_for_vector_db_spark.operators.relational import (
        event_transitions,
    )

    out = {(r.prev_type, r.event_type): (r.n, r.prob) for r in event_transitions(df).collect()}
    # view -> click twice, view -> purchase once; click -> view twice
    assert out[("view", "click")] == (2, round(2 / 3, 6))
    assert out[("view", "purchase")] == (1, round(1 / 3, 6))
    assert out[("click", "view")] == (2, 1.0)
    # transitions never cross users: single user here, 5 steps total
    assert sum(n for n, _ in out.values()) == 5


def test_fk_integrity_clean_fixture_reads_zero(spark):
    from tests.conftest import SF_DIR

    r = REGISTRY["fk_integrity_check"].fn(spark, SF_DIR).collect()[0]
    assert r.n_orders > 0
    assert (r.orphan_orders, r.orphan_lineitems, r.nonpositive_totals) == (0, 0, 0)


def test_lang_confusion_diagonal_dominates_for_marker_text(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import lang_confusion

    df = spark.createDataFrame(
        [
            (0, "the cat is in the house", "en"),
            (1, "der hund ist ein tier und", "de"),
            (2, "qqq zzz xxx", "en"),           # no markers -> und
        ],
        "doc_id long, text string, lang string",
    )
    out = {(r.lang, r.predicted_lang): (r.n, r.share) for r in lang_confusion(df).collect()}
    assert out[("en", "en")] == (1, 0.5)
    assert out[("en", "und")] == (1, 0.5)
    assert out[("de", "de")] == (1, 1.0)


def test_ks_drift_zero_for_identical_and_one_for_disjoint(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.curation import ks_drift

    same = spark.createDataFrame(
        [(i, i % 5, "train") for i in range(50)] + [(100 + i, i % 5, "test") for i in range(50)],
        "doc_id long, n_chars long, split string",
    )
    r = ks_drift(same).collect()[0]
    assert (r.n_a, r.n_b, r.ks_stat) == (50, 50, 0.0)

    disjoint = spark.createDataFrame(
        [(i, 1, "train") for i in range(10)] + [(100 + i, 99, "test") for i in range(10)],
        "doc_id long, n_chars long, split string",
    )
    r = ks_drift(disjoint).collect()[0]
    assert r.ks_stat == 1.0 and r.ks_at_value == 1  # full gap opens after value 1

    shifted = spark.createDataFrame(
        [(i, v, "train") for i, v in enumerate([1, 2, 3, 4])]
        + [(100 + i, v, "test") for i, v in enumerate([3, 4, 5, 6])],
        "doc_id long, n_chars long, split string",
    )
    r = ks_drift(shifted).collect()[0]
    assert r.ks_stat == 0.5 and r.ks_at_value == 2  # CDFs differ by 2/4 at v=2


def test_weekday_seasonality_shares_sum_to_one(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.relational import (
        weekday_seasonality,
    )
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    rows = weekday_seasonality(read_table(spark, SF_DIR, "orders")).collect()
    assert {r.dow for r in rows} <= set(range(1, 8))
    assert abs(sum(r.revenue_share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert abs(r.seasonal_index - r.revenue_share * 7) < 1e-5


def test_dsir_importance_upweights_target_domain(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        dsir_importance,
    )

    rows = [
        (0, "alpha beta gamma alpha beta", "en"),
        (1, "alpha gamma beta beta alpha", "en"),
        (2, "rouge bleu vert rouge bleu", "fr"),
        (3, "alpha beta gamma rouge bleu", "fr"),  # mixed: between the poles
        (4, "", "en"),  # zero tokens -> NULL weight
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.doc_id: r.dsir_weight
        for r in dsir_importance(df, df.where("lang = 'en'")).collect()
    }
    assert got[4] is None
    # Target-domain vocabulary scores above off-domain vocabulary,
    # with the mixed doc strictly between the two poles.
    assert got[0] > got[3] > got[2]
    assert got[1] > got[3]


def test_dsir_importance_external_target_full_token_mass(spark):
    """ADVICE r06: the vocabulary is the UNION of raw and target
    tokens, so an external target with out-of-raw-vocabulary tokens
    keeps its full mass in (tn, V) — the target LM is a distribution
    over the target's own support, and rankings still follow domain
    resemblance."""
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        dsir_importance,
    )

    raw = spark.createDataFrame(
        [(0, "alpha beta alpha beta"), (1, "rouge bleu rouge bleu")],
        "doc_id long, text string",
    )
    # external target: half its tokens never appear in the raw corpus
    target = spark.createDataFrame(
        [(100, "alpha beta nova nova quasar")], "doc_id long, text string"
    )
    got = {r.doc_id: r.dsir_weight for r in dsir_importance(raw, target).collect()}
    assert got[0] > got[2] if 2 in got else got[0] > got[1]
    # hand-computed under the union vocab: V=6 (alpha beta rouge bleu
    # nova quasar), rn=8, tn=5; doc 0 tokens have tf=1, rf=2;
    # doc 1 tokens tf=0, rf=2
    import math

    w_alpha = math.log((2 / 11) / (3 / 14))
    w_rouge = math.log((1 / 11) / (3 / 14))
    assert abs(got[0] - round(w_alpha, 6)) < 2e-6
    assert abs(got[1] - round(w_rouge, 6)) < 2e-6


def test_compaction_plan_greedy_first_fit_properties(spark):
    """Every file lands in exactly one bin; bins fill in size-desc
    order; a bin's total exceeds target only by its last-placed file
    (files are never split); bin ids are dense from 0 per partition."""
    from calculate_file_content_size_for_vector_db_spark.operators.maintenance import (
        compaction_plan,
    )

    rows = [("a", f"f{i}", s) for i, s in enumerate([700, 600, 300, 250, 200, 90, 60])] + [
        ("b", "g0", 5000),  # single oversized file: its own bin
        ("b", "g1", 10),
    ]
    df = spark.createDataFrame(rows, "source string, path string, size_bytes long")
    got = compaction_plan(
        df, target_bytes=1000, partition_col="source", size_col="size_bytes", key="path"
    ).collect()
    assert len(got) == len(rows)  # one bin per file, nothing split
    by_part = {}
    for r in got:
        by_part.setdefault(r.source, []).append(r)
    for part, rs in by_part.items():
        rs.sort(key=lambda r: (-r.size_bytes, r.path))
        # exclusive-prefix binning reproduced by hand
        cum = 0
        for r in rs:
            assert r.compact_bin == cum // 1000
            cum += r.size_bytes
    # partition a: 700+600 -> cum 0,700 -> bins 0,1... check a concrete bin map
    a = {r.path: r.compact_bin for r in by_part["a"]}
    assert a == {"f0": 0, "f1": 0, "f2": 1, "f3": 1, "f4": 1, "f5": 2, "f6": 2}
    b = {r.path: r.compact_bin for r in by_part["b"]}
    assert b == {"g0": 0, "g1": 5}


@pytest.mark.slow
def test_repetition_filters_goldens(spark):
    """Gopher repetition fractions on crafted docs, hand-derived:
    token-char totals, top-bigram coverage, duplicated-5-gram
    positional coverage (overlaps counted once), line duplication."""
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        repetition_filters,
    )

    rows = [
        (0, "a b c d e f g h i j"),            # nothing repeats
        (1, "x y z w v x y z w v x y z w v"),  # every position in a dup 5-gram
        (2, "line one\nline one\nline two"),   # duplicated line
        (3, ""),                               # empty -> all zeros
        (4, "the cat the cat the dog"),        # top bigram 'the cat' x2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_filters(df).collect()}
    assert len(got) == 5
    r0 = got[0]
    assert (r0.dup_line_frac, r0.dup_5gram_char_frac) == (0.0, 0.0)
    assert r0.top_2gram_char_frac == 0.2  # any single bigram: 2 chars / 10
    r1 = got[1]
    assert r1.dup_5gram_char_frac == 1.0  # rotations cover every position
    assert r1.top_2gram_char_frac == 0.4  # 'x y' x3 -> 6 chars / 15
    r2 = got[2]
    assert r2.dup_line_frac == 0.666667 and r2.dup_line_char_frac == 0.666667
    r3 = got[3]
    assert (r3.dup_line_frac, r3.dup_line_char_frac, r3.top_2gram_char_frac,
            r3.dup_5gram_char_frac) == (0.0, 0.0, 0.0, 0.0)
    assert got[4].top_2gram_char_frac == 0.666667  # 12 of 18 token chars


def test_ccnet_lm_buckets_per_lang_terciles(spark):
    """Buckets are per-language terciles by LM score: sizes within 1,
    head outranks tail inside each lang, zero-token docs keep NULL."""
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        ccnet_lm_buckets,
    )

    rows = []
    for i in range(9):  # en: common tokens for low ids -> high score
        rows.append((i, "the cat sat " + ("the " * (9 - i)), "en"))
    for i in range(6):
        rows.append((100 + i, "le chat " + (f"rare{i} " * (i + 1)), "fr"))
    rows.append((999, "", "en"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = ccnet_lm_buckets(df).collect()
    assert {r.doc_id: r.lm_bucket for r in got}[999] is None
    import collections

    sizes = collections.Counter((r.lang, r.lm_bucket) for r in got if r.lm_bucket)
    for lang, n in (("en", 9), ("fr", 6)):
        per = [sizes[(lang, b)] for b in ("head", "middle", "tail")]
        assert sum(per) == n and max(per) - min(per) <= 1
    for lang in ("en", "fr"):
        hs = [r.lm_score for r in got if r.lang == lang and r.lm_bucket == "head"]
        ts = [r.lm_score for r in got if r.lang == lang and r.lm_bucket == "tail"]
        assert min(hs) >= max(ts)


def test_snapshot_diff_added_removed_changed_null_matrix(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "gone"), (4, None), (5, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (4, None), (5, "was null"), (6, "fresh"), (7, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    # 1: unchanged (absent); 4: NULL->NULL unchanged (absent)
    assert got == {
        2: "changed",
        3: "removed",
        5: "changed",  # NULL -> text is a content change, not an add
        6: "added",
        7: "added",  # exists in new only, even with NULL content
    }


def test_bpe_train_merges_sennrich_golden(spark):
    # the classic BPE walkthrough: low x3, lower x2.
    # round 1: (l,o)=5 ties (o,w)=5 -> lexicographic, (l,o) merges.
    # round 2: (lo,w)=5 wins. round 3: (e,r)=2 ties (low,e)=2 ->
    # 'e' < 'low', (e,r) merges. round 4: (low,er)=2 -> 'lower'.
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        bpe_train_merges,
    )

    df = spark.createDataFrame(
        [(0, "low low low"), (1, "lower lower")], "doc_id long, text string"
    )
    got = [
        (r.rank, r.lhs, r.rhs, r.merged, r.pair_count)
        for r in bpe_train_merges(df, n_merges=4).orderBy("rank").collect()
    ]
    assert got == [
        (1, "l", "o", "lo", 5),
        (2, "lo", "w", "low", 5),
        (3, "e", "r", "er", 2),
        (4, "low", "er", "lower", 2),
    ]


def test_bpe_merge_respects_symbol_boundaries(spark):
    # 'ab' must not merge INSIDE the symbol sequence 'x a b' as a
    # substring of a larger symbol, and a merged symbol is atomic:
    # corpus: xab x2, ab x1 -> (a,b)=3 is the top pair; after it,
    # xab = [x, ab] (2 symbols), never [xab].
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        _bpe_symbols,
        _bpe_train_reprs,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, "xab xab ab")], "doc_id long, text string"
    )
    merges, reprs = _bpe_train_reprs(df, n_merges=1)
    # merges are (rank, lhs, rhs, merged, pair_count) driver tuples (r16:
    # the 1-row winner is fetched as a scalar; the rewrite runs on literals)
    rank, lhs, rhs, merged, pair_count = merges[0]
    assert (lhs, rhs, pair_count) == ("a", "b", 3)
    sym = {
        r.word: r.s
        for r in reprs.select("word", _bpe_symbols(F.col("repr")).alias("s")).collect()
    }
    assert sym == {"xab": ["x", "ab"], "ab": ["ab"]}


def test_bpe_consecutive_merge_chains_left_to_right(spark):
    # pair (a,a) over 'aaaa' and 'aaa': greedy left-to-right gives
    # [aa, aa] and [aa, a] — the double-space invariant must keep the
    # second occurrence matchable after the first replace consumes a
    # separator space.
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        _bpe_symbols,
        _bpe_train_reprs,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(0, "aaaa aaa")], "doc_id long, text string")
    merges, reprs = _bpe_train_reprs(df, n_merges=1)
    rank, lhs, rhs, merged, pair_count = merges[0]
    assert (lhs, rhs, pair_count) == ("a", "a", 5)  # 3 + 2 overlapping
    sym = {
        r.word: r.s
        for r in reprs.select("word", _bpe_symbols(F.col("repr")).alias("s")).collect()
    }
    assert sym == {"aaaa": ["aa", "aa"], "aaa": ["aa", "a"]}


def test_bpe_apply_tokens_counts(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        bpe_apply_tokens,
    )

    df = spark.createDataFrame(
        [(0, "low low low"), (1, "lower lower")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_bpe_tokens)
        for r in bpe_apply_tokens(df, n_merges=4).collect()
    }
    # after 4 merges both 'low' and 'lower' are single symbols
    assert got == {0: (3, 3), 1: (2, 2)}
    # with ONE merge (l,o): low = [lo, w] (2), lower = [lo, w, e, r] (4)
    got1 = {
        r.doc_id: (r.n_tokens, r.n_bpe_tokens)
        for r in bpe_apply_tokens(df, n_merges=1).collect()
    }
    assert got1 == {0: (3, 6), 1: (2, 8)}


def test_bpe_apply_oov_segments_unseen_words(spark):
    # tokenizer trained on docs 1/2 (low x3, lower x2); doc 0 (held
    # out, 0 % 17 == 0) contains the UNSEEN word 'lowest'. With the 4
    # trained merges (l,o)(lo,w)(e,r)(low,er): low -> [low],
    # lower -> [lower], lowest -> [low, e, s, t] (er never forms — e
    # is followed by s).
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        bpe_apply_oov,
    )

    df = spark.createDataFrame(
        [(0, "low lower lowest"), (1, "low low low"), (2, "lower lower")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_bpe_tokens)
        for r in bpe_apply_oov(df, n_merges=4).collect()
    }
    assert got == {0: (3, 1 + 1 + 4)}


def test_vacuum_plan_live_fractions_and_threshold(spark):
    """Dead-version GC planning (maintenance.vacuum_plan): per file,
    rows still carrying their key's LATEST version. Hand-built lake:
    file A holds keys 1,2,4 at v0 and only key 2 is never superseded
    (1/3 < 0.5 -> vacuum candidate); file B holds keys 1,3,4 at v1 of
    which keys 1 and 4 are latest (2/3 -> healthy); file C (key 3 at
    v2) is fully live."""
    from calculate_file_content_size_for_vector_db_spark.operators.maintenance import (
        vacuum_plan,
    )

    rows = [
        # (key, version, file)
        (1, 0, "A"), (2, 0, "A"), (4, 0, "A"),  # A: only key 2 live (1/3)
        (1, 1, "B"), (3, 1, "B"), (4, 1, "B"),  # B: keys 1,4 live (2/3)
        (3, 2, "C"),                              # C: fully live
    ]
    lake = spark.createDataFrame(rows, "doc_id long, _v long, _file string")
    got = {r._file: r for r in vacuum_plan(lake).collect()}
    assert (got["A"].n_rows, got["A"].n_live) == (3, 1)
    assert got["A"].live_frac == round(1 / 3, 6) and got["A"].vacuum_candidate
    assert (got["B"].n_rows, got["B"].n_live) == (3, 2)
    assert not got["B"].vacuum_candidate
    assert (got["C"].n_rows, got["C"].n_live) == (1, 1)
    assert got["C"].live_frac == 1.0 and not got["C"].vacuum_candidate


def test_vacuum_plan_on_maintenance_face_lake(spark, tmp_path):
    """vacuum_plan composes with the streaming face's lake layout
    (doc_id, text, _v, source partition): after an upsert of doc 1,
    the wave-0 file that held it drops below full liveness."""
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.maintenance import (
        vacuum_plan,
    )

    lake = str(tmp_path / "lake")
    for v, rows in ((0, [(1, "alpha", "s1"), (2, "beta", "s1")]),
                    (1, [(1, "alpha v2", "s1")])):
        (spark.createDataFrame(rows, "doc_id long, text string, source string")
         .withColumn("_v", F.lit(v).cast("long"))
         .repartition(1).write.partitionBy("source").mode("append").parquet(lake))
    read = spark.read.parquet(lake).withColumn("_file", F.input_file_name())
    got = sorted(
        (r.n_rows, r.n_live, r.vacuum_candidate)
        for r in vacuum_plan(read).collect()
    )
    # wave-0 file: 2 rows, 1 live (doc 1 superseded) -> 0.5, not below
    # threshold; wave-1 file: 1 row fully live
    assert got == [(1, 1, False), (2, 1, False)]


def test_zonemap_prune_stats_zorder_prunes_both_dimensions(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.maintenance import (
        zonemap_prune_stats,
    )
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    rows = {
        (r.layout, r.predicate): r
        for r in zonemap_prune_stats(read_table(spark, SF_DIR, "orders")).collect()
    }
    assert len(rows) == 6
    assert all(r.files_total == 16 for r in rows.values())
    # The linear (custkey-sorted) layout prunes perfectly on its own
    # sort key and NOT AT ALL on the other dimension ...
    assert rows[("linear", "custkey_band")].files_read == 2
    assert rows[("linear", "date_band")].prune_fraction == 0.0
    # ... while the Morton layout's 4x4 quantized boxes prune BOTH
    # single-dimension bands and their conjunction hardest.
    assert rows[("zorder", "custkey_band")].files_read == 4
    assert rows[("zorder", "date_band")].files_read == 4
    assert rows[("zorder", "both_bands")].files_read == 1
    for r in rows.values():
        assert 0.0 <= r.prune_fraction <= 1.0
        assert 0 <= r.files_read <= r.files_total


def test_token_budget_recipe_epochs_flags_and_conservation(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        token_budget_recipe,
    )

    df = spark.createDataFrame(
        [(i, "t " * 10, "en", "s", 20) for i in range(900)]
        + [(900, "t " * 10, "fr", "s", 20)]
        + [(901, "", "und", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.lang: r for r in token_budget_recipe(df, alpha=0.5, budget_frac=1.0).collect()}
    # token budget is conserved: targets sum to budget_frac x total
    total = sum(r.n_tokens for r in out.values())
    assert abs(sum(r.target_tokens for r in out.values()) - total) < 1e-3
    # temperature up-weights the rare language far past one epoch,
    # over the 4-epoch repetition cap; the dominant language trains
    # on a subsample (< 1 epoch)
    assert out["fr"].epochs > 4.0 and out["fr"].upsampled and out["fr"].over_repeat_cap
    assert out["en"].epochs < 1.0 and not out["en"].upsampled
    # zero-token group keeps its row with NULL epochs and flags
    assert out["und"].n_tokens == 0
    assert out["und"].epochs is None and out["und"].upsampled is None


@pytest.mark.slow
def test_retrieval_recall_families_hybrid_beats_lexical(spark):
    from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY
    from tests.conftest import SF_DIR

    rows = {
        r.family: r
        for r in REGISTRY["retrieval_recall_families"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == {"lexical", "hybrid"}
    # truth is 3 queries x top-10
    assert all(r.n_exact == 30 for r in rows.values())
    assert all(0.0 <= r.recall <= 1.0 for r in rows.values())
    # fusing the exact vector list in lifts recall far above keywords
    # alone (and RRF's rank mixing is why hybrid sits below 1.0: a
    # lexical-only rank-1 doc outscores a truth doc at rank > ~5)
    assert rows["hybrid"].recall > rows["lexical"].recall


def test_bpe_fertility_bounds_and_merge_benefit(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        bpe_fertility,
    )

    # 'aa' dominates lang a -> its pair merges in round 1, so lang a
    # segments to 1 token/word; lang b's two 10-char all-distinct
    # words have 18 rare pairs, more than the 7 remaining merges can
    # collapse, so lang b keeps fertility well above 1
    df = spark.createDataFrame(
        [(i, "aa aa aa aa", "a", "s", 11) for i in range(8)]
        + [(100, "abcdefghij klmnopqrst", "b", "s", 21)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.lang: r for r in bpe_fertility(df).collect()}
    for r in out.values():
        # every word is at least one symbol and at most its char count
        assert 1.0 <= r.fertility
        assert r.n_bpe_tokens <= r.n_chars
        assert r.chars_per_token >= 1.0
    assert out["a"].fertility == 1.0  # 'aa' fully merged
    assert out["a"].fertility < out["b"].fertility


@pytest.mark.slow
def test_serving_pipeline_covers_batch_with_artifact_outputs(spark):
    from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    out = REGISTRY["serving_pipeline"].fn(spark, SF_DIR).collect()
    docs = read_table(spark, SF_DIR, "documents")
    n_serve = docs.where("doc_id % 17 = 0").count()
    assert len(out) == n_serve
    emb_ids = {
        r.vec_id for r in read_table(spark, SF_DIR, "embeddings").select("vec_id").collect()
    }
    for r in out:
        assert r.doc_id % 17 == 0
        if r.score is not None:
            assert 0.0 < r.score < 1.0
        if r.n_tokens:
            # merge-table replay segments every word: bounded by chars
            assert r.n_bpe_tokens >= r.n_tokens
        if r.doc_id in emb_ids:
            # routed to a frozen cell, neighbor served from the BASE
            # corpus (never itself, never another batch vector)
            assert r.cell is not None and r.nn_id is not None
            assert r.nn_id % 17 != 0
            assert -1.0 <= r.nn_cosine <= 1.0
        else:
            assert r.cell is None and r.nn_id is None


def test_hll_overlap_subset_and_disjoint_sources(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        hll_overlap_sources,
    )

    # a ⊂ b (40 of b's 80 texts), c disjoint from both: the sketch
    # intersection must land near 40 for (a,b) and near 0 for the
    # c-pairs, every row inside the declared bound, and the exact
    # baseline column must be literally correct.
    rows = []
    for i in range(40):
        rows.append((f"shared text number {i} alpha beta", "a"))
    for i in range(80):
        t = (
            f"shared text number {i} alpha beta"
            if i < 40
            else f"b only text number {i} gamma delta"
        )
        rows.append((t, "b"))
    for i in range(50):
        rows.append((f"c only text number {i} epsilon zeta", "c"))
    df = spark.createDataFrame(rows, "text string, source string")
    got = {(r.src_a, r.src_b): r for r in hll_overlap_sources(df).collect()}
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = got[("a", "b")]
    assert ab.n_exact_intersect == 40
    assert abs(ab.est_intersect - 40) <= 0.2 * (ab.est_a + ab.est_b + ab.est_union)
    for pair in (("a", "c"), ("b", "c")):
        assert got[pair].n_exact_intersect == 0
    assert all(r.within_bound for r in got.values())
    # union of disjoint sketches ~ sum of parts (within per-estimate noise)
    ac = got[("a", "c")]
    assert ac.est_union >= max(ac.est_a, ac.est_b)


def test_corpus_datacard_merge_matches_direct_card_on_shared_metrics(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        corpus_datacard,
        corpus_datacard_merge,
    )

    rows = [
        (0, "alpha beta gamma", "en", "s1"),
        (1, "alpha beta gamma", "en", "s1"),  # exact dup of 0
        (2, "", "en", "s2"),                  # empty
        (3, None, "fr", "s2"),                # null text
        (4, "delta epsilon", "fr", "s3"),
        (5, "zeta eta theta iota", "en", "s1"),
        (6, "kappa", "de", "s3"),
        (7, "lambda mu nu xi omicron", "en", "s2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    merged = {r.metric: r.value for r in corpus_datacard_merge(df).collect()}
    direct = {r.metric: r.value for r in corpus_datacard(df).collect()}
    # every metric both cards share must agree exactly — merge loses nothing
    shared = [
        "n_docs", "n_sources", "n_langs", "total_tokens", "total_chars",
        "n_empty", "empty_fraction", "mean_doc_tokens", "top_lang_share",
    ]
    for k in shared:
        assert merged[k] == direct[k], (k, merged[k], direct[k])
    # the sketch columns exist and are sane: 7 distinct non-null texts,
    # HLL at m=256 on 7 items is exact-ish (linear counting regime)
    assert abs(merged["est_uniq_texts"] - 7) <= 1.0
    assert 0.0 <= merged["approx_dup_fraction"] <= 1.0


def test_quantile_hist_merge_properties(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        quantile_hist_merge,
    )

    # 100 docs with lengths 1..100: exact p50=50, p90=90, p99=99; the
    # histogram (width 8) must estimate each at its bin's upper edge.
    rows = [(i, "x" * i) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = quantile_hist_merge(df).collect()[0]
    assert r.n_docs == 100
    assert (r.exact_p50, r.exact_p90, r.exact_p99) == (50, 90, 99)
    # 50 -> bin 6 -> est 56; 90 -> bin 11 -> est 96; 99 -> bin 12 -> est 104
    assert (r.est_p50, r.est_p90, r.est_p99) == (56, 96, 104)
    assert r.merged_equals_direct and r.within_bin_width


def test_join_size_cms_overcount_only_and_exact_on_sparse_keys(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.maintenance import (
        join_size_cms,
    )

    # exact join size = sum over shared keys of count_a * count_b:
    # key 1: 3*2, key 2: 1*4, key 3 only in A, key 9 only in B -> 10.
    a = spark.createDataFrame([(1,), (1,), (1,), (2,), (3,)], "k long")
    b = spark.createDataFrame([(1,), (1,), (2,), (2,), (2,), (2,), (9,)], "k long")
    r = join_size_cms(a, b).collect()[0]
    assert (r.n_a, r.n_b, r.n_keys_a, r.n_keys_b) == (5, 7, 3, 3)
    assert r.exact_join_rows == 10
    assert r.est_join_rows >= 10  # CMS inner product never undercounts
    assert r.overcount == r.est_join_rows - 10 and r.overcount >= 0
    # 4 distinct keys across 1024 columns: collisions essentially
    # impossible under the fixed md5 hash -> the estimate is exact
    assert r.est_join_rows == 10 and r.within_bound


def test_join_size_cms_disjoint_keys_estimates_small(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.maintenance import (
        join_size_cms,
    )

    a = spark.createDataFrame([(i,) for i in range(20)], "k long")
    b = spark.createDataFrame([(i + 1000,) for i in range(20)], "k long")
    r = join_size_cms(a, b).collect()[0]
    assert r.exact_join_rows == 0
    assert r.est_join_rows >= 0 and r.within_bound


def test_scd2_temporal_join_point_in_time_semantics(spark):
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.relational import (
        scd2_history,
        scd2_temporal_join,
    )

    # dimension stream: user 1 is 'view' from t1, 'click' from t3;
    # facts at t2 (-> view), t3 (boundary: change at exactly t3 wins
    # -> click), t4 (-> click), and t0 (before any version -> NULL);
    # user 2 has no dimension rows at all -> NULL.
    dim_rows = [
        (100, "2024-01-01 10:01:00", 1, "view"),
        (101, "2024-01-01 10:03:00", 1, "click"),
    ]
    fact_rows = [
        (200, "2024-01-01 10:00:00", 1, "purchase"),
        (201, "2024-01-01 10:02:00", 1, "purchase"),
        (202, "2024-01-01 10:03:00", 1, "purchase"),
        (203, "2024-01-01 10:04:00", 1, "purchase"),
        (204, "2024-01-01 10:02:00", 2, "purchase"),
    ]
    schema = "event_id long, ts string, user_id long, event_type string"
    mk = lambda rows: spark.createDataFrame(rows, schema).withColumn(
        "ts", F.to_timestamp("ts")
    )
    hist = scd2_history(mk(dim_rows))
    got = {r.event_id: r.state for r in scd2_temporal_join(mk(fact_rows), hist).collect()}
    assert got == {200: None, 201: "view", 202: "click", 203: "click", 204: None}


@pytest.mark.slow
def test_drift_psi_identical_and_shifted_distributions(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        drift_psi,
    )

    schema = "doc_id long, text string, lang string"
    same = [(i, "x" * (50 + (i % 5)), ["en", "fr"][i % 2]) for i in range(200)]
    base = spark.createDataFrame(same, schema)
    # identical distribution (same rows re-keyed): PSI ~ 0, no flag
    batch_same = spark.createDataFrame(
        [(i + 1000, t, l) for i, t, l in same], schema
    )
    r = drift_psi(base, batch_same).collect()[0]
    assert abs(r.psi_length) < 0.01 and abs(r.psi_lang) < 0.01
    assert not r.drift_flag
    # shifted: batch docs 8x longer and all German -> both PSIs fire
    batch_shift = spark.createDataFrame(
        [(i + 2000, "y" * 400, "de") for i in range(200)], schema
    )
    r2 = drift_psi(base, batch_shift).collect()[0]
    assert r2.psi_length > 0.2 and r2.psi_lang > 0.2 and r2.drift_flag
