"""Training-data curation operators: PII redaction, Gopher-style
quality rules, sequence packing, and embedding quantization.

These are the corpus-preparation steps a large-scale LLM data pipeline
runs between raw ingestion and training-shard writing (reference repo
has no equivalent — this is north-star surface, cf. SURVEY.md §7.4).
Everything is pure Column expressions (JVM-side, whole-stage codegen);
no Python UDFs anywhere, so each op scales linearly with one shuffle
or none.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.session import cached

# Conservative PII patterns that parse identically under Java regex
# (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "it")


def _toks(text_col: Column) -> Column:
    return F.filter(F.split(text_col, r"\s+"), lambda w: w != "")


def redact_pii(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """Redact emails, phone numbers, and IPv4 addresses from a text
    column, counting hits per category BEFORE replacement.

    Order matters: emails first (their local part can contain dots and
    digits that the later patterns must not see), then phones, then
    IPs. The counts come from ``regexp_count`` on the original text, so
    overlapping categories are counted against the earliest pattern
    that matches them in the redaction order. One projection, zero
    shuffles — at 100 TB this is a map-only pass."""
    text = F.col(text_col)
    n_email = F.regexp_count(text, F.lit(EMAIL_RE))
    after_email = F.regexp_replace(text, EMAIL_RE, "[EMAIL]")
    n_phone = F.regexp_count(after_email, F.lit(PHONE_RE))
    after_phone = F.regexp_replace(after_email, PHONE_RE, "[PHONE]")
    n_ip = F.regexp_count(after_phone, F.lit(IPV4_RE))
    clean = F.regexp_replace(after_phone, IPV4_RE, "[IP]")
    return df.select(
        F.col(key),
        clean.alias("clean_text"),
        n_email.cast("bigint").alias("n_email"),
        n_phone.cast("bigint").alias("n_phone"),
        n_ip.cast("bigint").alias("n_ip"),
    )


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 12.0,
    min_alpha_ratio: float = 0.8,
    max_symbol_ratio: float = 0.1,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, table A1
    — public paper; thresholds adapted to the short synthetic
    fixtures): word count bounds, mean word length band, fraction of
    words containing an alphabetic character, symbol-to-char ratio,
    and a minimum number of stopword occurrences. Emits the per-rule
    features plus the final ``keep`` verdict so downstream filters can
    re-threshold without recomputing. Pure higher-order-function
    column arithmetic — no UDF, no shuffle."""
    text = F.col(text_col)
    ws = _toks(text)
    n_words = F.size(ws)
    word_chars = F.aggregate(
        F.transform(ws, lambda w: F.length(w).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    mean_word_len = F.round(word_chars.cast("double") / n_words, 6)
    n_alpha_words = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    alpha_ratio = F.round(n_alpha_words.cast("double") / n_words, 6)
    n_chars = F.length(text)
    n_symbol = n_chars - F.length(F.regexp_replace(text, r"[^A-Za-z0-9\s]", ""))
    symbol_ratio = F.round(n_symbol.cast("double") / n_chars, 6)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_hits = F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, F.lower(w))))
    keep = (
        n_words.between(min_words, max_words)
        & mean_word_len.between(min_mean_word_len, max_mean_word_len)
        & (alpha_ratio >= min_alpha_ratio)
        & (symbol_ratio <= max_symbol_ratio)
        & (stop_hits >= min_stopword_hits)
    )
    empty = (n_chars.isNull()) | (n_chars == 0) | (n_words == 0)
    return df.select(
        F.col(key),
        n_words.cast("bigint").alias("n_words"),
        F.when(~empty, mean_word_len).alias("mean_word_len"),
        F.when(~empty, alpha_ratio).alias("alpha_ratio"),
        F.when(~empty, symbol_ratio).alias("symbol_ratio"),
        stop_hits.cast("bigint").alias("stopword_hits"),
        F.when(empty, F.lit(False)).otherwise(keep).alias("keep"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    text_col: str = "text",
    key: str = "doc_id",
    stream_col: str = "source",
) -> DataFrame:
    """Concat-and-chop sequence packing: documents are concatenated in
    ``key`` order within each ``stream_col`` stream and chopped into
    fixed ``budget``-token training sequences; each document records
    which sequence it starts in and at what offset (documents straddle
    boundaries, as in standard LLM pretraining packing).

    The running offset is an exclusive-frame window sum PER STREAM —
    the same shape as the reference's chunk_offset_in_file
    (pdf_reader.py:483-485) lifted to the corpus level. Partitioning by
    stream keeps the window parallel at scale (a single global ordered
    window would serialize onto one task); streams are independent
    training shards, matching how corpora are actually packed."""
    n_tokens = F.size(_toks(F.col(text_col)))
    w = (
        Window.partitionBy(stream_col)
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    return (
        df.select(F.col(key), F.col(stream_col), n_tokens.cast("bigint").alias("n_tokens"))
        .withColumn("seq_id", F.floor(cum_before / F.lit(budget)).cast("bigint"))
        .withColumn("seq_offset", (cum_before % F.lit(budget)).cast("bigint"))
    )


def pack_sequences_salted(
    df: DataFrame,
    budget: int = 512,
    text_col: str = "text",
    key: str = "doc_id",
    stream_col: str = "source",
    n_salts: int = 8,
) -> DataFrame:
    """``pack_sequences`` with two-level (salted) windowing — IDENTICAL
    output, but parallelism is n_streams * n_salts tasks instead of
    n_streams. Use when the corpus has few streams (pack_sequences'
    per-stream window serializes each stream onto one task; a 3-source
    100 TB corpus would pack on 3 cores).

    Level 1: each stream's key range is cut into <= n_salts CONTIGUOUS
    key-range substreams (contiguity is what preserves exact semantics:
    ordering by (stream, substream, key) equals ordering by
    (stream, key), whatever the key density). The running sum within a
    substream is the usual exclusive-frame window, now parallel across
    substreams.
    Level 2: substream token totals (n_streams * n_salts rows) get
    their own exclusive running sum per stream — a trivially small
    window — and each document's global offset is substream base +
    local offset.
    """
    tok = df.select(
        F.col(key),
        F.col(stream_col),
        F.size(_toks(F.col(text_col))).cast("bigint").alias("n_tokens"),
    )
    # per-stream key span -> substream width; the range frame is k rows
    # per stream, broadcast back onto the corpus
    rng = tok.groupBy(stream_col).agg(
        F.min(key).alias("_kmin"), F.max(key).alias("_kmax")
    )
    salted = cached(  # feeds the local window AND the substream totals
        tok.join(F.broadcast(rng), stream_col)
        .withColumn("_delta", F.col(key) - F.col("_kmin"))
        .withColumn(
            "_w",
            ((F.col("_kmax") - F.col("_kmin")) / F.lit(n_salts)).cast("bigint") + 1,
        )
        .withColumn("_sub", F.expr("_delta div _w").cast("int"))
        .select(key, stream_col, "n_tokens", "_sub")
    )
    w_local = (
        Window.partitionBy(stream_col, "_sub")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_cum = F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0)).cast("bigint")
    w_base = (
        Window.partitionBy(stream_col)
        .orderBy("_sub")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = (
        salted.groupBy(stream_col, "_sub")
        .agg(F.sum("n_tokens").alias("_subtot"))
        .withColumn("_base", F.coalesce(F.sum("_subtot").over(w_base), F.lit(0)).cast("bigint"))
        .select(stream_col, "_sub", "_base")
    )
    cum = F.col("_base") + local_cum
    return (
        salted.join(F.broadcast(bases), [stream_col, "_sub"])
        .select(
            F.col(key),
            F.col(stream_col),
            F.col("n_tokens"),
            F.floor(cum / F.lit(budget)).cast("bigint").alias("seq_id"),
            (cum % F.lit(budget)).cast("bigint").alias("seq_offset"),
        )
    )


def training_shard_order(
    df: DataFrame,
    key: str = "doc_id",
    seed: str = "shuffle-seed-1",
    shard_chars: int = 2,
) -> DataFrame:
    """Deterministic global training-order shuffle, sharded: every doc
    gets (shard, shard_pos) — shard from the first ``shard_chars`` hex
    chars of a seeded md5 (256 shards at the default), position by
    md5-then-key rank WITHIN the shard. Reading shards in order and
    each shard by position yields the same pseudo-random document order
    on every run/engine — how training corpora are actually shuffled at
    scale (a single global row_number would serialize 100 TB through
    one window task; per-shard windows are n_shards-way parallel).
    Re-seeding reshuffles; keys absent from a shard don't move others.
    """
    h = F.md5(F.concat(F.lit(seed + "|"), F.col(key).cast("string")))
    w = Window.partitionBy("shard").orderBy("h", key)
    return (
        df.select(F.col(key), h.alias("h"))
        .withColumn("shard", F.substring("h", 1, shard_chars))
        .withColumn("shard_pos", F.row_number().over(w).cast("bigint"))
        .select(key, "shard", "shard_pos")
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination scan: for every training document that
    shares at least one word ``n``-gram with any benchmark document,
    report how many distinct n-grams are contaminated and how many
    benchmark documents they touch.

    The standard pre-training hygiene step (benchmark text leaking into
    the training corpus inflates eval scores). Candidate generation is
    a shingle equi-join — identical shape to the n-gram dedup path:
    linear in co-occurring n-grams, never pairwise over documents. The
    benchmark side is tiny in practice, so at scale Spark broadcasts
    it and the train side never shuffles."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import shingles

    t = train.select(
        F.col(key).alias("t_id"), F.explode(shingles(F.col(text_col), n)).alias("g")
    )
    b = benchmark.select(
        F.col(key).alias("b_id"), F.explode(shingles(F.col(text_col), n)).alias("g")
    )
    return (
        t.join(b, "g")
        .groupBy(F.col("t_id").alias(key))
        .agg(
            F.countDistinct("g").cast("bigint").alias("n_hits"),
            F.countDistinct("b_id").cast("bigint").alias("n_bench_docs"),
        )
    )


def repetition_ratio(
    df: DataFrame, n: int = 3, text_col: str = "text", key: str = "doc_id"
) -> DataFrame:
    """Within-document repetition: fraction of word n-grams that are
    duplicates of an earlier n-gram in the same document (Gopher's
    duplicate-n-gram rule family). High ratios flag boilerplate/spam.
    Pure array arithmetic per row — map-only, no shuffle. (The n-gram
    list here is NOT distinct-ed, unlike dedup.shingles — the
    duplicate fraction is the point.)"""
    toks = _toks(F.col(text_col))
    empty = F.array().cast("array<string>")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k + 1) for k in range(n)]
            ),
        ),
    ).otherwise(empty)
    n_grams = F.size(grams)
    n_distinct = F.size(F.array_distinct(grams))
    return df.select(
        F.col(key),
        n_grams.cast("bigint").alias("n_grams"),
        n_distinct.cast("bigint").alias("n_distinct"),
        F.when(
            n_grams > 0,
            F.round(F.lit(1.0) - n_distinct.cast("double") / n_grams, 6),
        ).alias("dup_ratio"),
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, int],
    default_rate: int = 20,
    stratum_col: str = "lang",
    key: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum sampling (corpus mixing): keep a
    document iff its md5-derived bucket (0-99) falls below its
    stratum's percentage. Hash-based, so the sample is stable under
    reshuffling/incremental loads and needs no sort, no count, no
    shuffle — the same property train_test_split relies on. ``rates``
    maps stratum value -> keep percentage."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 4), 16, 10).cast("int")
        % 100
    )
    rate = F.lit(default_rate)
    for value, pct in rates.items():
        rate = F.when(F.col(stratum_col) == value, F.lit(pct)).otherwise(rate)
    return df.select(F.col(key), F.col(stratum_col), bucket.alias("bucket")).where(
        F.col("bucket") < rate
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", key: str = "vec_id"
) -> DataFrame:
    """Symmetric int8 quantization per vector: scale = max |component|,
    q[i] = round(127 * x[i] / scale). Cuts vector storage 4x for
    ANN-index shipping; the scale column allows approximate
    dequantization. Components are widened float->double BEFORE any
    arithmetic so both engines (and any reader) compute on identical
    doubles. Map-only, no shuffle."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(vec, F.abs))
    q = F.when(scale > 0, F.transform(vec, lambda x: F.round(F.lit(127.0) * x / scale).cast("int")))
    return df.select(
        F.col(key),
        F.round(scale, 6).alias("scale"),
        q.alias("q_embedding"),
    )


def ks_drift(
    df: DataFrame,
    value_col: str = "n_chars",
    split_col: str = "split",
    split_a: str = "train",
    split_b: str = "test",
) -> DataFrame:
    """1-row two-sample Kolmogorov-Smirnov statistic between the
    ``value_col`` distributions of two splits — the standard
    distribution-drift monitor (train-vs-test skew, yesterday-vs-
    today ingest drift). Emits the KS statistic, the value where the
    CDF gap peaks (ties -> smallest value), and both sample sizes;
    drift alarms threshold on ks_stat.

    Plan shape: one (value, split) hash-agg compresses both samples
    to their value histograms (distinct-values-sized), a single
    ordered window computes both empirical CDFs cumulatively over
    that compressed frame, one global agg takes the max gap. The
    sort-window runs on the post-aggregation distinct-value frame —
    the same bounded global-window pattern the rankers use — never on
    raw rows."""
    counts = (
        df.where(F.col(split_col).isin(split_a, split_b))
        .groupBy(F.col(value_col).alias("v"))
        .agg(
            F.sum(F.when(F.col(split_col) == split_a, 1).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(F.col(split_col) == split_b, 1).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = counts.agg(
        F.sum("ca").cast("long").alias("n_a"), F.sum("cb").cast("long").alias("n_b")
    )
    cdf = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "v",
            "n_a",
            "n_b",
            # try_divide: a single-sided input (one split empty) yields
            # NULL gaps and a NULL ks_stat instead of an ANSI
            # divide-by-zero error (tests/test_edge_inputs.py)
            F.round(
                F.abs(
                    F.try_divide(F.sum("ca").over(w), F.col("n_a").cast("double"))
                    - F.try_divide(F.sum("cb").over(w), F.col("n_b").cast("double"))
                ),
                6,
            ).alias("gap"),
        )
    )
    wbest = Window.orderBy(F.desc("gap"), F.asc("v"))
    return (
        cdf.withColumn("_rn", F.row_number().over(wbest))
        .where(F.col("_rn") == 1)
        .select(
            "n_a",
            "n_b",
            F.col("gap").alias("ks_stat"),
            F.col("v").cast("long").alias("ks_at_value"),
        )
    )


def cap_per_source(
    df: DataFrame,
    cap: int = 10,
    n_salts: int = 8,
    source_col: str = "source",
    score_col: str = "quality_score",
    key: str = "doc_id",
) -> DataFrame:
    """(key, source, score, source_rank): keep at most ``cap`` docs per
    source, best ``score_col`` first — the per-domain cap every
    web-scale corpus applies so one hot domain cannot dominate the
    training mix (the CommonCrawl-pipeline counterpart of
    stratified_sample's rate-based thinning).

    Two-phase top-k so the shape survives a hot domain at 100 TB: each
    (source, salt) bucket first keeps its own local top-``cap`` (the
    pack_sequences_salted salting pattern — a domain with 10^9 docs
    spreads over ``n_salts`` partitions and each discards all but
    ``cap`` rows), then the final per-source window ranks at most
    n_salts * cap candidates per source. Phase 1 can never evict a
    final winner (any global top-``cap`` row is a fortiori in its own
    bucket's top-``cap``), so output is IDENTICAL to the plain
    single-window form the oracle states. Ties break (score desc
    NULLS LAST, key asc) on both engines.

    pmod, not %: Spark's % keeps the dividend's sign, so negative keys
    would land in negative salt buckets — still correct (the proof
    only needs each row in exactly one bucket) but doubling the
    documented n_salts fan-out. pmod keeps it exactly [0, n_salts);
    NULL keys coalesce to bucket 0 (ADVICE r06).
    """
    salted = df.withColumn(
        "_salt", F.coalesce(F.pmod(F.col(key), F.lit(n_salts)), F.lit(0)).cast("int")
    )
    w1 = Window.partitionBy(source_col, "_salt").orderBy(
        F.desc_nulls_last(score_col), F.asc(key)
    )
    local = (
        salted.withColumn("_lr", F.row_number().over(w1))
        .where(F.col("_lr") <= cap)
        .drop("_lr", "_salt")
    )
    w2 = Window.partitionBy(source_col).orderBy(F.desc_nulls_last(score_col), F.asc(key))
    return (
        local.withColumn("source_rank", F.row_number().over(w2).cast("int"))
        .where(F.col("source_rank") <= cap)
        .select(key, source_col, score_col, "source_rank")
    )


# ---------------------------------------------------------------------------
# Trained quality classifier: hashed-bag-of-words logistic regression,
# trained with unrolled full-batch gradient descent in pure DataFrame
# ops — the fastText-style quality gate (Joulin et al. 2016; used for
# GPT-3/LLaMA-style "looks like the reference corpus" filtering) that
# sits ABOVE the rule-based gates (gopher_quality) and the importance
# heuristic (dsir_importance) in the curation ladder.
#
# Spark shape (the 100 TB design): features are one token explode +
# one (doc, bucket) hash-agg folded into ONE array row per doc —
# linear, Heaps-free (bucket count is FIXED at n_buckets, unlike a
# vocabulary). Each GD round is a narrow map (packed 1-row weight
# broadcast → logit, sigmoid, residual per doc row, no shuffle) plus
# one n_buckets-group agg (the gradient) — the packed-broadcast
# pattern of similarity._nearest, with the same determinism
# discipline: every logit, probability, gradient, and weight rounds
# to 6 decimals per round, so the DuckDB oracle reproduces training
# bit-for-bit. At 100 TB, training runs on a labeled SAMPLE (pass
# train_df) and scoring is a broadcast-weights map over the full
# corpus.
# ---------------------------------------------------------------------------

LOGREG_BUCKETS = 16
LOGREG_ROUNDS = 2
LOGREG_LR = 1.0


def _doc_features(
    df: DataFrame, text_col: str, key: str, n_buckets: int
) -> DataFrame:
    """(key, fx): one row per document with ≥1 token; ``fx`` is the
    doc's L1-normalized hashed-bag feature vector as a b-ascending
    array of (b, x) structs, intercept pseudo-bucket b=-1 (x=1.0)
    first.

    This is the r16 shape of the classifier's feature table (guide
    §2.3/§2.4): the pre-r16 per-(doc, bucket)-ROW table forced every
    GD round through corpus-keyed shuffles — z was a groupBy(key), the
    residual a y⋈p join, the gradient a feat⋈resid join. Folding the
    ≤(n_buckets+1) feature rows into ONE array row per doc makes the
    whole forward pass (z, p, residual) a narrow map over a packed
    1-row weight broadcast, and leaves the gradient's tiny
    groupBy(b) as the only per-round exchange — shuffling nothing but
    n_buckets+1 partially-aggregated rows per map partition. It also
    deletes the second corpus tokenize pass the old intercept union
    paid: the intercept row set ("docs with ≥1 token") is exactly the
    docs that own a count row. Values are unchanged: x is the same
    long/long division (c over the doc's exact token total), and
    array_sort pins a deterministic b-ascending summation order."""
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        token_hash,
        tokens,
    )
    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    tok = spread(df).select(
        F.col(key), F.explode(tokens(text_col)).alias("w")
    )
    cnt = tok.groupBy(key, (token_hash(F.col("w")) % n_buckets).cast("int").alias("b")).agg(
        F.count("*").alias("c")
    )
    bc = cnt.groupBy(key).agg(
        F.array_sort(F.collect_list(F.struct("b", "c"))).alias("bc")
    )
    n = F.aggregate("bc", F.lit(0).cast("long"), lambda a, s: a + s["c"])
    return bc.select(
        F.col(key),
        F.concat(
            F.array(F.struct(F.lit(-1).cast("int").alias("b"), F.lit(1.0).alias("x"))),
            F.transform(
                "bc", lambda s: F.struct(s["b"].alias("b"), (s["c"] / n).alias("x"))
            ),
        ).alias("fx"),
    )


def _packed_weights(w: DataFrame) -> DataFrame:
    """1-row (wm) frame: the (b, wgt) weight table folded into a map
    for narrow per-doc dot products — the bpe_apply_stored /
    similarity._nearest packed-broadcast pattern. Attached by
    crossJoin(broadcast(...)): a 1-row broadcast nested loop, bounded
    by construction and allowlisted per consumer in the registry plan
    sweep (an equi-join on a constant key compiles to the same nested
    loop after constant folding, so there is no BHJ alternative).

    A stored table may repeat or NULL a bucket id, which map_from_entries
    would reject with an opaque map-key error; the same aggregation
    counts rows against distinct ids and raises a named error instead."""
    agg = w.groupBy().agg(
        F.count("*").alias("n"),
        F.size(F.collect_set("b")).alias("n_distinct"),
        F.collect_list(F.struct("b", "wgt")).alias("entries"),
    )
    return agg.select(
        F.when(
            F.col("n") == F.col("n_distinct"), F.map_from_entries("entries")
        ).otherwise(
            F.raise_error(
                F.format_string(
                    "weight table needs one row per bucket id b: "
                    "%d rows, %d distinct non-NULL b",
                    "n",
                    "n_distinct",
                )
            )
        ).alias("wm")
    )


def _z_of(fx_col: str) -> Column:
    """round(w·x, 6) of a packed feature array against the broadcast
    weight map ``wm`` — the narrow-map logit. try_element_at mirrors
    the old inner join feat⋈w by b: a bucket absent from the weight
    table contributes 0 (trained weight tables always cover every
    corpus bucket; the guard is for the stored-weights hook)."""
    return F.round(
        F.aggregate(
            fx_col,
            F.lit(0.0),
            lambda acc, s: acc
            + s["x"] * F.coalesce(F.try_element_at("wm", s["b"]), F.lit(0.0)),
        ),
        6,
    )


def quality_classifier_weights(
    df: DataFrame,
    positive: Column,
    text_col: str = "text",
    key: str = "doc_id",
    n_buckets: int = LOGREG_BUCKETS,
    rounds: int = LOGREG_ROUNDS,
    lr: float = LOGREG_LR,
) -> DataFrame:
    """(b, wgt): the trained weight vector (b=-1 is the intercept) —
    the model artifact a 100-TB run trains once on a labeled sample
    and broadcasts to score everything.

    ``positive`` is a Boolean Column over ``df`` marking the
    reference-quality class. Weights start at 0; ``rounds`` full-batch
    GD steps unroll into one lazy plan (nothing collected)."""
    # labeled is corpus-sized AT TRAIN TIME (docstring: 100 TB trains
    # on a labeled sample, so in production this is sample-sized — but
    # the registered full-corpus rows exercise the worst case). One
    # compact array row per doc (≤ n_buckets+1 entries + the label).
    # DISK_ONLY keeps the GD rounds' execution memory clear of the
    # cache (guide §5; bench-neutral at sf0.1, r16 A/B in
    # OPTIMIZATION_r16.md).
    labeled = cached(
        _doc_features(df, text_col, key, n_buckets).join(
            df.select(F.col(key), positive.cast("int").alias("y")), key
        ),
        StorageLevel.DISK_ONLY,
    )
    n_train = labeled.agg(F.count("*").cast("double").alias("n_train"))
    w = (
        labeled.select(F.explode("fx").alias("f"))
        .select(F.col("f.b").alias("b"))
        .distinct()
        .withColumn("wgt", F.lit(0.0))
    )
    for _ in range(rounds):
        # The whole forward pass is a narrow map: packed 1-row weight
        # broadcast (equi-joined on _one → BroadcastHashJoin), logit +
        # sigmoid + residual computed per doc row with no shuffle. The
        # only per-round exchange is the gradient's groupBy(b) —
        # n_buckets+1 partially-aggregated rows per map partition
        # (guide §2.3/§2.4; the pre-r16 shape paid a corpus groupBy(key)
        # + a y⋈p join + a feat⋈resid join per round).
        resid = (
            labeled.crossJoin(F.broadcast(_packed_weights(w)))
            .select(
                "fx",
                (
                    F.round(
                        F.lit(1.0) / (F.lit(1.0) + F.exp(-_z_of("fx"))), 6
                    )
                    - F.col("y")
                ).alias("r"),
            )
        )
        grad = (
            resid.select(F.explode("fx").alias("f"), "r")
            .groupBy(F.col("f.b").alias("b"))
            .agg(F.sum(F.col("f.x") * F.col("r")).alias("g_sum"))
            .crossJoin(F.broadcast(n_train))
            .select("b", F.round(F.col("g_sum") / F.col("n_train"), 6).alias("g"))
        )
        # coalesce(1): the inter-round weight frame is n_buckets rows
        # (see similarity.ivf_centroids — same tiny-frame shave).
        # broadcast(grad): both sides are n_buckets+1 rows; the default
        # plan was a 2-exchange sort-merge join between 17-row frames
        w = w.join(F.broadcast(grad), "b", "left").select(
            "b",
            F.round(
                F.col("wgt") - F.lit(lr) * F.coalesce(F.col("g"), F.lit(0.0)), 6
            ).alias("wgt"),
        ).coalesce(1)
    return w


def quality_classifier_score(
    df: DataFrame,
    positive: Column,
    text_col: str = "text",
    key: str = "doc_id",
    n_buckets: int = LOGREG_BUCKETS,
    rounds: int = LOGREG_ROUNDS,
    lr: float = LOGREG_LR,
    train_df: DataFrame | None = None,
    weights_df: DataFrame | None = None,
) -> DataFrame:
    """(key, label, score): every document's trained-classifier quality
    probability (rounded sigmoid of w·x), next to its training label
    for calibration inspection. Zero-token docs keep NULL score.

    ``train_df`` (default: ``df`` itself) is the labeled training
    frame — at 100 TB a small curated sample; scoring then touches the
    full corpus exactly once with the (n_buckets+1)-row weight table
    broadcast. ``weights_df`` is the stored-model hook (the
    sim_topk_ivf_stored contract): a (b, wgt) table — e.g. read back
    from parquet — served directly, with NO training lineage in the
    scoring plan at all."""
    w = (
        weights_df
        if weights_df is not None
        else quality_classifier_weights(
            train_df if train_df is not None else df,
            positive,
            text_col,
            key,
            n_buckets,
            rounds,
            lr,
        )
    )
    # Scoring is one narrow map over the per-doc feature arrays against
    # the packed weight broadcast — the pre-r16 shape paid a corpus
    # groupBy(key) to assemble each doc's logit from its feature ROWS.
    scores = (
        _doc_features(df, text_col, key, n_buckets)
        .crossJoin(F.broadcast(_packed_weights(w)))
        .select(
            F.col(key),
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-_z_of("fx"))), 6
            ).alias("score"),
        )
    )
    return df.select(F.col(key), positive.cast("int").alias("label")).join(
        scores, key, "left"
    )


def leakage_safe_split(
    df: DataFrame,
    test_mod: int = 5,
    threshold: float = 0.5,
    text_col: str = "text",
    key: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(key, cluster_id, split): train/test assignment where every
    near-duplicate CLUSTER lands on one side — the leakage guard a
    random per-document split lacks (a test doc's near-duplicate in
    the training set inflates eval exactly like benchmark
    contamination; splitting by cluster is the standard fix).

    Assignment is deterministic: cluster_id = the cluster's smallest
    doc id (singletons: the doc itself), split = 'test' iff
    pmod(cluster_id, test_mod) == 0 — so ~1/test_mod of CLUSTERS (and
    their every member) test, reproducible with no RNG and stable
    under re-runs as long as ids are stable.

    Plan: the near-dup CC labeling (neardup_clusters: star
    contraction, O(log^2 n) rounds on any graph structure — the scale
    ladder showed min-label propagation, even with pointer jumping,
    failing to converge at 200k docs) + one left join back onto the
    corpus + a narrow projection. Nothing beyond the clustering itself
    is more than linear."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        neardup_clusters,
    )

    clusters = neardup_clusters(
        df, threshold, text_col, key, max_bucket_size=max_bucket_size
    )
    cluster = F.coalesce(F.col("cluster_id"), F.col(key))
    return (
        df.select(F.col(key))
        .join(clusters, key, "left")
        .select(
            key,
            cluster.cast("long").alias("cluster_id"),
            F.when(F.pmod(cluster, F.lit(test_mod)) == 0, F.lit("test"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )


def contamination_score(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """(key, n_grams, n_hits, contamination): the GRADED companion of
    ``decontaminate`` — for EVERY training document, the fraction of
    its distinct word n-grams that appear anywhere in the benchmark
    (GPT-3 appendix-C style overlap measurement). decontaminate gates
    (who overlaps at all); this measures (how much), which is what
    sets dirty-doc policy: drop above a high fraction, surgically null
    the spans below it.

    Docs with fewer than ``n`` tokens have no n-grams: n_grams=0,
    contamination NULL (nothing measurable), row preserved.

    Plan: same shingle equi-join as decontaminate (benchmark side tiny
    => broadcast at scale), plus a per-doc distinct-gram count off the
    already-exploded train shingles. Linear, never pairwise."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import shingles
    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    t = cached(
        spread(train).select(F.col(key), F.explode(shingles(F.col(text_col), n)).alias("g"))
    )
    totals = t.groupBy(key).agg(F.count("*").cast("bigint").alias("n_grams"))
    b = benchmark.select(F.explode(shingles(F.col(text_col), n)).alias("g")).distinct()
    hits = (
        t.join(b, "g")
        .groupBy(key)
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    return (
        train.select(F.col(key))
        .join(totals, key, "left")
        .join(hits, key, "left")
        .select(
            key,
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.try_divide(F.coalesce("n_hits", F.lit(0)), F.col("n_grams")), 6
            ).alias("contamination"),
        )
    )


def weighted_sample_es(
    df: DataFrame,
    k: int = 100,
    weight_col: str = "n_chars",
    key: str = "doc_id",
) -> DataFrame:
    """(key, weight, es_key, rank): weighted sampling WITHOUT
    replacement by the Efraimidis-Spirakis A-ES one-pass reservoir
    (2006) — the standard distributed algorithm behind quality- or
    length-weighted corpus subsetting: each row draws u in (0,1) and
    keeps key u^(1/w); the global top-k by that key is EXACTLY a
    weighted sample without replacement. Perfectly parallel (each
    partition computes keys independently, top-k merges), one scan +
    one bounded sort — no sequential reservoir state, which is why
    A-ES and not Vitter's R is the cluster algorithm.

    Randomness is DETERMINISTIC: u = (60-bit md5 prefix + 1) / (2^60
    + 1) in (0, 1), the engine-portable hash plumbing the Bloom/HLL
    rows use — so re-runs, both engines, and any partitioning draw
    the same sample (seeded sampling as a correctness property, not
    just a convenience). Zero/NULL weights can never enter the
    sample (their key is 0, below any positive draw); ties break on
    the doc key. es_key is 6-rounded for display; RANKING uses the
    unrounded key so both engines agree at boundaries."""
    u = (
        F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 15), 16, 10).cast(
            "double"
        )
        + F.lit(1.0)
    ) / F.lit(float((1 << 60) + 1))
    w = F.col(weight_col).cast("double")
    es = F.when(w > 0, F.pow(u, F.lit(1.0) / w)).otherwise(F.lit(0.0))
    keyed = df.select(
        F.col(key),
        F.col(weight_col).cast("long").alias("weight"),
        es.alias("_es"),
    )
    # distributed top-k (TakeOrdered: per-partition partial top-k, then
    # merge) — NOT a global row_number window, which would sort the
    # whole corpus on one task; the rank window then runs over k rows
    top = keyed.orderBy(F.desc("_es"), F.asc(key)).limit(k)
    win = Window.orderBy(F.desc("_es"), F.asc(key))
    return (
        top.withColumn("rank", F.row_number().over(win).cast("int"))
        .select(key, "weight", F.round("_es", 6).alias("es_key"), "rank")
    )
