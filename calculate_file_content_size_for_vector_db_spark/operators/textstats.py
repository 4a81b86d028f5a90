"""Text analysis over document columns (SURVEY.md section 7.4; the
training-data-pipeline extension surface).

All operators are pure Column expressions (whole-stage codegen, no
Python in the hot path): language-ID by marker-word scoring, quality
scoring from length/punctuation/stopword ratios, whitespace + BPE-ish
token counting, and polynomial-rolling-hash document fingerprinting.

At 100 TB these are narrow per-row transforms: no shuffle, fully
pipelined with the scan; the only care is keeping them JVM-side, which
ruling out UDFs here guarantees.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.operators.maintenance import (
    keyed_takedown,
    keyed_upsert,
)
from calculate_file_content_size_for_vector_db_spark.session import cached

# marker ("stop") words per language for the n-gram/marker heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "la", "de", "que", "y", "un"),
    "fr": ("le", "la", "et", "les", "des", "un"),
    "zh": ("的", "是", "了", "在"),
}
# deterministic tie-break: first language in this order wins
LANG_ORDER = ("en", "de", "es", "fr", "zh")

STOPWORDS = LANG_MARKERS["en"]

# "BPE-ish" pre-tokenization: letter runs | digit runs | single other glyph
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

HASH_MOD = 1_000_000_007
HASH_BASE = 31


def tokens(col: Column | str) -> Column:
    """Whitespace tokens, empties removed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, "\\s+"), lambda t: t != "")


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n_tokens (whitespace), n_bpe_tokens (regex pre-tokenizer),
    n_chars."""
    return df.withColumns(
        {
            "n_tokens": F.size(tokens(text_col)).cast("int"),
            "n_bpe_tokens": F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), 0)).cast("int"),
            "n_chars_text": F.length(text_col).cast("int"),
        }
    )


def _marker_score(toks: Column, markers: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("int")


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """score_<lang> = count of marker-word hits per language."""
    toks = tokens(text_col)
    return df.withColumns(
        {f"score_{lang}": _marker_score(toks, LANG_MARKERS[lang]) for lang in LANG_ORDER}
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """predicted_lang = argmax marker score (ties -> LANG_ORDER)."""
    scored = lang_scores(df, text_col)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_ORDER])
    pred = F.lit(None).cast("string")
    for lang in reversed(LANG_ORDER):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    return scored.withColumn("predicted_lang", F.when(best > 0, pred).otherwise(F.lit("und")))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality metrics + a composite score.

    punct_ratio: non-alnum/non-space chars per char; alpha_ratio:
    letters per char; stopword_ratio: stopword tokens per token;
    mean_word_len; quality_score: a fixed linear blend, rounded.
    """
    c = F.col(text_col)
    n = F.length(c).cast("double")
    toks = tokens(text_col)
    n_toks = F.size(toks).cast("double")
    punct = (n - F.length(F.regexp_replace(c, "[^a-zA-Z0-9\\s]", ""))).cast("double")
    alpha = F.length(F.regexp_replace(c, "[^a-zA-Z]", "")).cast("double")
    stop = _marker_score(toks, STOPWORDS).cast("double")
    tok_chars = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda a, b: a + b
    ).cast("double")
    out = df.withColumns(
        {
            "punct_ratio": F.round(F.try_divide(punct, n), 6),
            "alpha_ratio": F.round(F.try_divide(alpha, n), 6),
            "stopword_ratio": F.round(F.try_divide(stop, n_toks), 6),
            "mean_word_len": F.round(F.try_divide(tok_chars, n_toks), 6),
        }
    )
    # integer weights keep the blend on the 1e-6 grid of the rounded
    # inputs — a fractional weight would land sums exactly on round-half
    # boundaries where Spark (HALF_UP on shortest-repr) and C/DuckDB
    # (binary value) disagree
    score = (
        F.lit(1.0)
        - F.coalesce(F.col("punct_ratio"), F.lit(1.0))
        + F.coalesce(F.col("stopword_ratio"), F.lit(0.0))
    )
    return out.withColumn("quality_score", F.round(score, 6))


def source_reputation(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """(source, n_docs, source_quality): per-source mean composite
    quality — the "domain reputation" table a curation pipeline gates
    ingestion with (drop whole low-quality sources before any per-doc
    work). One map pass for the per-doc score plus one keyed hash-agg;
    the result is sources-sized, so it BROADCASTS into any gate join
    against the corpus."""
    q = quality_score(df, text_col)
    return q.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("quality_score"), 6).alias("source_quality"),
    )


def char_entropy(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """(key, char_entropy): Shannon entropy of the character unigram
    distribution in bits/char — the classic cheap gibberish/repetition
    detector (near-0 for 'aaaa...', ~4.2 for English prose, higher for
    random bytes). Empty/NULL text -> NULL entropy, row preserved.

    Plan shape: explode chars once, two keyed hash-aggs ((key, ch)
    counts, then one per-key agg) — map-side partial, linear at any
    scale. Uses the algebraic form H = log2(n) - sum(c*log2(c))/n so
    no window/self-join is needed for the total count."""
    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    df = spread(df)
    chars = df.select(
        F.col(key), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).where(F.length("ch") > 0)
    counts = chars.groupBy(key, "ch").agg(F.count("*").alias("c"))
    ent = counts.groupBy(key).agg(
        F.round(
            F.log2(F.sum("c")) - F.sum(F.col("c") * F.log2("c")) / F.sum("c"), 6
        ).alias("char_entropy")
    )
    return df.select(key).join(ent, key, "left").select(key, "char_entropy")


def fingerprint(col: Column | str) -> Column:
    """Polynomial rolling hash over code points, mod 1e9+7 — a
    deterministic 'document fingerprint' (empty/NULL -> 0)."""
    c = F.col(col) if isinstance(col, str) else col
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("bigint"))
    h = F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * HASH_BASE + x) % HASH_MOD,
    )
    return F.coalesce(h, F.lit(0).cast("bigint"))


def token_hash(tok: Column) -> Column:
    """Same polynomial hash for a single token (used by simhash)."""
    codes = F.transform(F.split(tok, ""), lambda ch: F.ascii(ch).cast("bigint"))
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * HASH_BASE + x) % HASH_MOD,
    )


def zscore_by_group(
    df: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "lang",
    key: str = "doc_id",
) -> DataFrame:
    """Per-group z-score normalization via applyInPandas (grouped-map:
    one pandas DataFrame per group in, one out — the API shape for
    per-entity model scoring / normalization at scale; each group must
    fit in one worker's memory, groups process in parallel).

    Semantics are deliberately also SQL-expressible (sample stddev) so
    the DuckDB oracle can verify this Python path exactly.
    """
    import pandas as pd

    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField(key, LongType()),
            StructField(group_col, StringType()),
            StructField("zscore", DoubleType()),
        ]
    )

    def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[value_col].astype("float64")
        sd = v.std(ddof=1)
        z = (v - v.mean()) / sd if sd and sd > 0 else v * 0.0
        return pd.DataFrame(
            {key: pdf[key], group_col: pdf[group_col], "zscore": z.round(6)}
        )

    return df.select(key, group_col, value_col).groupBy(group_col).applyInPandas(_norm, schema)


def unigram_logprob(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """(key, lm_score): CCNet-style unigram language-model score — the
    mean ln(corpus unigram probability) over a document's tokens.
    Higher = more typical text; strongly negative = rare-token soup.
    The standard cheap LM filter for training-data curation when a
    real KenLM isn't available on the cluster.

    Plan: one token explode; corpus frequencies via one hash-agg (the
    "LM training" pass); scoring is an equi-join on token plus one
    keyed avg — two shuffles total. The frequency table is vocab-sized
    (Heaps-bounded), the 1-row grand total broadcasts. Zero-token docs
    keep a NULL score via the final left join.

    Determinism: ln-probabilities averaged then rounded to 6 decimals
    (partition-order summation noise sits ~1e-13, far below the
    rounding grain) — mirrored by the text_lm_score DuckDB oracle.
    """
    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    df = spread(df)
    tok = df.select(F.col(key), F.explode(tokens(text_col)).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("tf"))
    total = freq.agg(F.sum("tf").cast("double").alias("n"))
    scored = (
        tok.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy(key)
        .agg(F.round(F.avg(F.log(F.col("tf") / F.col("n"))), 6).alias("lm_score"))
    )
    return df.select(key).join(scored, key, "left")


def langs_per_source(df: DataFrame, group_col: str = "source", lang_col: str = "lang") -> DataFrame:
    """(source, langs): sorted distinct languages per source, as a real
    array<string> column — the library-facing form. The registered
    langs_per_source query serializes `langs` to JSON purely for the
    driver's pandas canonicalizer (which can't hash list cells); array
    consumers should call this instead of the registry entry."""
    return df.groupBy(group_col).agg(
        F.array_sort(F.collect_set(lang_col)).alias("langs")
    )


def calibrate_quality_threshold(
    df: DataFrame,
    keep_rates: tuple[tuple[float, str], ...] = ((0.5, "0.5"), (0.8, "0.2"), (0.95, "0.05")),
    text_col: str = "text",
) -> DataFrame:
    """(keep_rate, threshold, n_pass, pass_rate): the quality-score
    cutoffs that keep a target fraction of the corpus — how a pipeline
    actually sets its gate (pick a budget, read off the threshold),
    instead of guessing a magic score.

    Each entry of ``keep_rates`` is (keep_rate, fraction_literal) where
    the literal is the EXACT percentile string 1 - keep_rate — passed
    textually so the Spark side and a SQL mirror interpolate the same
    binary fraction (1 - 0.8 in float arithmetic is 0.19999...96, and
    exact percentile interpolation is sensitive to it).

    Plan shape: one pass computes all percentiles in a single global
    aggregate (percentile() ignores NULL scores, matching
    quantile_cont); the 1-row result unpivots to one row per rate and
    broadcasts back over the scored corpus for the pass counts — two
    scans of the score column, no quadratic stage, rates bounded.
    NULL-score docs count in the denominator and never pass (a doc the
    scorer can't score doesn't enter the training set).
    """
    q = quality_score(df, text_col).select("quality_score")
    aggs = [
        F.round(F.expr(f"percentile(quality_score, {frac})"), 6).alias(f"_t{i}")
        for i, (_, frac) in enumerate(keep_rates)
    ]
    aggs.append(F.count("*").cast("long").alias("_total"))
    one = q.agg(*aggs)
    stack = ", ".join(
        f"CAST({rate} AS DOUBLE), _t{i}" for i, (rate, _) in enumerate(keep_rates)
    )
    th = one.selectExpr(
        f"stack({len(keep_rates)}, {stack}) AS (keep_rate, threshold)", "_total"
    )
    return (
        q.crossJoin(F.broadcast(th))
        .groupBy("keep_rate", "threshold", "_total")
        .agg(
            F.sum(
                F.when(F.col("quality_score") >= F.col("threshold"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_pass")
        )
        .select(
            "keep_rate",
            "threshold",
            "n_pass",
            F.round(F.col("n_pass") / F.col("_total").cast("double"), 6).alias("pass_rate"),
        )
    )


def balanced_mix_recipe(df: DataFrame, group_col: str = "lang") -> DataFrame:
    """(lang, n_docs, actual_share, target_share, sample_rate,
    expected_docs): the uniform data-mixing recipe — downsample every
    group to the smallest group's count so the output distribution is
    balanced. The per-group sample_rate is what a pipeline feeds to
    df.sampleBy (or a deterministic mod-id filter) when composing a
    training mix.

    Plan shape: one keyed count per group, then the 1-row corpus
    aggregate (total, group count, min group size) broadcasts back —
    two shuffles total, both on bounded (group-cardinality) data.
    """
    per = df.groupBy(group_col).agg(F.count("*").cast("long").alias("n_docs"))
    corpus = per.agg(
        F.sum("n_docs").cast("double").alias("_total"),
        F.count("*").cast("long").alias("_n_groups"),
        F.min("n_docs").cast("long").alias("_min_n"),
    )
    return per.crossJoin(F.broadcast(corpus)).select(
        group_col,
        "n_docs",
        F.round(F.col("n_docs") / F.col("_total"), 6).alias("actual_share"),
        F.round(F.lit(1.0) / F.col("_n_groups"), 6).alias("target_share"),
        F.round(F.col("_min_n") / F.col("n_docs").cast("double"), 6).alias("sample_rate"),
        F.col("_min_n").alias("expected_docs"),
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch heavy hitters: the streaming-sketch answer to "top
# tokens over 100 TB" — a depth x width integer grid replaces the
# full token dictionary, so memory is O(depth * width) however large
# the vocabulary grows, and the estimate only ever OVER-counts
# (Cormode & Muthukrishnan 2005). Hashing is md5-hex -> int, the
# engine-portable scheme train_test_split already uses.
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 128


def cms_cell(tok: Column, row: int, width: int = CMS_WIDTH) -> Column:
    """Column index of ``tok`` in sketch row ``row`` (32 md5 bits mod
    width — engine-portable and deterministic)."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"cms{row}|"), tok)), 1, 8), 16, 10)
        .cast("bigint")
        % width
    )


def cms_sketch(
    df: DataFrame,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(row, col, cell_count): the filled Count-Min grid for a corpus.
    CMS is LINEAR — the sketch of a union is the cell-wise sum of the
    parts' sketches — so partial sketches from streams/shards merge
    with one (row, col) sum; tests/test_streaming.py pins the
    foreachBatch-merged sketch equal to this batch build."""
    toks = df.select(F.explode(tokens(text_col)).alias("word"))
    cells = toks.select(
        F.explode(
            F.array(*[F.struct(F.lit(r).alias("row"), cms_cell(F.col("word"), r, width).alias("col")) for r in range(depth)])
        ).alias("c")
    ).select("c.row", "c.col")
    return cells.groupBy("row", "col").agg(F.count("*").cast("long").alias("cell_count"))


def cms_heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    topn: int = 10,
) -> DataFrame:
    """(word, est_count, exact_count, overcount): top-``topn`` tokens
    by Count-Min estimate, with the exact count alongside — the CMS
    guarantee est >= exact holds row-for-row (overcount >= 0, bounded
    by colliding mass ~ N/width per row, min over ``depth`` rows).

    Plan shape: the sketch build is one hash-agg whose key space is
    the FIXED depth x width grid — partial aggregation collapses it
    map-side, so the shuffle carries at most depth*width rows per
    task regardless of corpus size; the filled sketch (<= depth*width
    rows) broadcasts back onto the candidate words. The exact-count
    side exists only to exhibit the error bound; a production run at
    100 TB drops it and keeps the sketch-only half."""
    toks = df.select(F.explode(tokens(text_col)).alias("word"))
    occ = toks.groupBy("word").agg(F.count("*").cast("long").alias("exact_count"))
    sketch = cms_sketch(df, text_col, depth, width)
    probes = occ.select(
        "word",
        "exact_count",
        F.explode(
            F.array(*[F.struct(F.lit(r).alias("row"), cms_cell(F.col("word"), r, width).alias("col")) for r in range(depth)])
        ).alias("c"),
    ).select("word", "exact_count", "c.row", "c.col")
    est = (
        probes.join(F.broadcast(sketch), ["row", "col"])
        .groupBy("word", "exact_count")
        .agg(F.min("cell_count").cast("long").alias("est_count"))
    )
    w = Window.orderBy(F.desc("est_count"), F.asc("word"))
    return (
        est.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= topn)
        .select(
            "word",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).cast("long").alias("overcount"),
            "rank",
        )
    )


def temperature_mix_recipe(
    df: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.5,
    budget_frac: float = 0.5,
) -> DataFrame:
    """(group, n_docs, share, mix_weight, sample_rate, expected_docs):
    temperature-based mixture sampling (the multilingual-LM standard,
    XLM/mT5): sampled mass per group ~ share^alpha renormalized, so
    low-resource groups are up-weighted without the hard uniform floor
    of balanced_mix_recipe. ``budget_frac`` sets the output corpus
    size as a fraction of the input.

    Plan shape: one keyed hash-agg to group counts, a 1-row broadcast
    of the weight normalizer back over the (tiny) group table —
    nothing here scales with corpus rows except the first count."""
    counts = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    tot = counts.agg(
        F.sum("n_docs").cast("long").alias("_total"),
        F.sum(F.pow(F.col("n_docs").cast("double"), F.lit(alpha))).alias("_wsum_raw"),
    )
    # _wsum over share^alpha = sum((n/total)^alpha) = _wsum_raw / total^alpha
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            F.round(F.col("n_docs") / F.col("_total").cast("double"), 6).alias("share"),
            F.round(
                F.pow(F.col("n_docs") / F.col("_total").cast("double"), F.lit(alpha))
                / (F.col("_wsum_raw") / F.pow(F.col("_total").cast("double"), F.lit(alpha))),
                6,
            ).alias("mix_weight"),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.pow(F.col("n_docs") / F.col("_total").cast("double"), F.lit(alpha))
                    / (F.col("_wsum_raw") / F.pow(F.col("_total").cast("double"), F.lit(alpha)))
                    * F.lit(budget_frac)
                    * F.col("_total")
                    / F.col("n_docs").cast("double"),
                ),
                6,
            ).alias("sample_rate"),
            F.round(
                F.pow(F.col("n_docs") / F.col("_total").cast("double"), F.lit(alpha))
                / (F.col("_wsum_raw") / F.pow(F.col("_total").cast("double"), F.lit(alpha)))
                * F.lit(budget_frac)
                * F.col("_total"),
                6,
            ).alias("expected_docs"),
        )
    )


def readability(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """(key, n_words, n_sentences, n_syllables, flesch): Flesch
    reading-ease per document with the standard cheap proxies —
    sentences = runs of [.!?] (floor 1), syllables = vowel-group runs
    — a quality signal next to gopher_quality that targets prose
    complexity rather than boilerplate. Latin-alphabet heuristic; CJK
    docs score from whatever Latin tokens they contain.

    All counting is JVM-side regexp_count over one scan; no shuffle
    at all (per-row derivation)."""
    n_words = F.size(tokens(text_col)).cast("long")
    n_sent = F.greatest(F.regexp_count(F.col(text_col), F.lit("[.!?]+")), F.lit(1)).cast("long")
    n_syl = F.regexp_count(F.col(text_col), F.lit("[aeiouyAEIOUY]+")).cast("long")
    return df.select(
        key,
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * F.try_divide(n_words.cast("double"), n_sent.cast("double"))
            - F.lit(84.6) * F.try_divide(n_syl.cast("double"), n_words.cast("double")),
            6,
        ).alias("flesch"),
    )


def bpe_pair_counts(df: DataFrame, text_col: str = "text", topn: int = 20) -> DataFrame:
    """(pair, freq, rank): the top-``topn`` adjacent character pairs
    by corpus frequency — the scoring pass of one BPE merge step
    (Sennrich et al. 2016), run distributed: tokenizer training's
    inner loop expressed as two hash-aggs.

    Plan shape: occurrences compress to the (word, count) dictionary
    first (classic BPE works on word frequencies, and the dictionary
    is orders of magnitude smaller than the corpus), then each word
    explodes to its length-1 adjacent pairs weighted by count, and one
    keyed agg sums pair mass. Both aggs partial map-side."""
    words = df.select(F.explode(tokens(text_col)).alias("word")).groupBy("word").agg(
        F.count("*").cast("long").alias("n")
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda j: F.col("word").substr(j, F.lit(2)),
            )
        ).alias("pair"),
        F.col("n"),
    ).where(F.length("pair") == 2)
    freq = pairs.groupBy("pair").agg(F.sum("n").cast("long").alias("freq"))
    w = Window.orderBy(F.desc("freq"), F.asc("pair"))
    return (
        freq.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= topn)
        .select("pair", "freq", "rank")
    )


BPE_MERGES = 8


def _bpe_symbols(repr_col: Column) -> Column:
    """Symbol array of a boundary-safe repr string (see _bpe_repr0)."""
    return F.split(F.trim(repr_col), "  ")


def _bpe_repr0(word: Column) -> Column:
    """Initial BPE repr: characters joined by TWO spaces, single space
    at both ends — ' t  h  e '. The double-space invariant makes a
    literal replace of ' l  r ' -> ' lr ' symbol-boundary-safe (a
    symbol can never false-match a SUFFIX of another symbol, because
    every full symbol is flanked by spaces) AND chainable across
    consecutive occurrences (the match consumes one of the two
    separator spaces, leaving one to open the next match — so plain
    left-to-right replace() implements exactly the greedy merge both
    engines agree on). No regex, no UDF, no marker characters that
    could collide with corpus text."""
    return F.concat(F.lit(" "), F.array_join(F.split(word, ""), "  "), F.lit(" "))


def _bpe_train_reprs(
    df: DataFrame, n_merges: int = BPE_MERGES, text_col: str = "text"
) -> tuple[list[tuple], DataFrame]:
    """(per-rank (rank, lhs, rhs, merged, pair_count) tuples, final
    word reprs) — shared core of bpe_train_merges / bpe_apply_tokens.

    Classic BPE training (Sennrich et al. 2016) on the (word, count)
    dictionary: each round counts adjacent symbol pairs weighted by
    word frequency (overlapping occurrences counted, as in the
    reference algorithm), picks the max (ties: lexicographic on the
    pair — integer counts, fully deterministic), and rewrites every
    word's repr with one literal replace. Each round localCheckpoints
    the vocab-sized repr table: the rewrite references the previous
    round's reprs AND the best-pair row (itself derived from those
    reprs), so a lazy chain would nest the plan exponentially in
    rounds — the star_components lesson applied at design time.

    The winning pair is fetched to the driver as ONE scalar row per
    round (a convergence-probe-style driver scalar — 5 fields, not
    data): the rewrite then runs on literal search/replace
    strings with no per-round broadcast build, and the round costs one
    job (pair agg + argmax) plus the repr checkpoint, instead of the
    pre-r16 three (best checkpoint, emptiness probe, broadcast-build +
    rewrite). Values are unchanged — the same deterministic plan
    produces the pair; only where the 1 row lands differs.

    Scale: every stage is vocab-bounded (the dictionary is orders of
    magnitude smaller than the corpus and caps at |V|); the corpus is
    touched once, by the word count."""
    words = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    reprs = words.select(
        "word", "freq", _bpe_repr0(F.col("word")).alias("repr")
    ).localCheckpoint(eager=True)
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        s = _bpe_symbols(F.col("repr"))
        pair_arr = F.when(
            F.size(s) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(s) - 2),
                lambda i: F.struct(
                    F.element_at(s, i + 1).alias("l"),
                    F.element_at(s, (i + 2).cast("int")).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        best = (
            reprs.select(F.explode(pair_arr).alias("p"), "freq")
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").cast("long").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
            .limit(1)
            .select(
                F.lit(rank).cast("int").alias("rank"),
                F.col("l").alias("lhs"),
                F.col("r").alias("rhs"),
                F.concat("l", "r").alias("merged"),
                "pair_count",
            )
            .take(1)
        )
        if not best:
            # Degenerate corpus: no adjacent symbol pair anywhere (every
            # word already a single symbol before n_merges rounds). Stop
            # training: the merge table simply has fewer than n_merges
            # rows.
            break
        row = best[0]
        merges.append(
            (row["rank"], row["lhs"], row["rhs"], row["merged"], row["pair_count"])
        )
        search = f" {row['lhs']}  {row['rhs']} "
        repl = f" {row['merged']} "
        reprs = (
            reprs.select(
                "word",
                "freq",
                F.replace(F.col("repr"), F.lit(search), F.lit(repl)).alias("repr"),
            )
            .localCheckpoint(eager=True)
        )
    return merges, reprs


def bpe_train_merges(
    df: DataFrame, n_merges: int = BPE_MERGES, text_col: str = "text"
) -> DataFrame:
    """(rank, lhs, rhs, merged, pair_count): the trained BPE merge
    table — the tokenizer-as-artifact, like quality_classifier_weights
    is the classifier-as-artifact. Deterministic by construction
    (integer pair counts, lexicographic ties), so an unrolled SQL
    chain reproduces training bit-for-bit. A degenerate corpus (no
    adjacent pair to merge) yields an empty merge table, not an
    error."""
    merges, _ = _bpe_train_reprs(df, n_merges, text_col)
    return df.sparkSession.createDataFrame(
        merges, "rank int, lhs string, rhs string, merged string, pair_count long"
    )


def bpe_apply_tokens(
    df: DataFrame,
    n_merges: int = BPE_MERGES,
    text_col: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """(key, n_tokens, n_bpe_tokens): per-document token count under
    the TRAINED BPE segmentation vs the whitespace count — the real
    'how many tokens is this corpus' number a training-data budget
    needs, where n_bpe_tokens shrinks as merges fuse frequent
    character runs.

    Application is vocab-level: the final merged reprs from training
    already ARE the segmentation of every known word, so serving is
    one broadcast-sized join from the exploded corpus onto the
    |V|-row (word -> n_symbols) map — the merge loop never touches
    per-document data. (Serving UNSEEN words would fall back to
    replaying the stored merge table; this operator scores the
    training corpus itself, where the vocab covers every word.)"""
    _, reprs = _bpe_train_reprs(df, n_merges, text_col)
    vocab = reprs.select(
        "word", F.size(_bpe_symbols(F.col("repr"))).cast("long").alias("n_sym")
    )
    toks = df.select(F.col(key), F.explode(tokens(text_col)).alias("word"))
    return (
        toks.join(F.broadcast(vocab), "word")
        .groupBy(key)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
        )
    )


def bpe_segment_with_merges(words: DataFrame, merges: DataFrame) -> DataFrame:
    """(word, n_sym): segment ARBITRARY words by replaying a stored
    merge table in rank order — the serving path for words the
    training vocab never saw (bpe_apply_tokens short-circuits through
    the trained reprs and only covers known words).

    The replay is one F.aggregate fold over the merges collected into
    a single broadcast row (array_sort on the struct puts rank first,
    so the fold applies merges in training order): each step is the
    same boundary-safe literal replace training used. No driver
    collect, no UDF — the merge table rides the plan as a 1-row
    broadcast whatever its length."""
    merge_row = merges.agg(
        F.array_sort(
            F.collect_list(F.struct("rank", "lhs", "rhs", "merged"))
        ).alias("ms")
    )
    folded = words.crossJoin(F.broadcast(merge_row)).select(
        "word",
        F.aggregate(
            "ms",
            _bpe_repr0(F.col("word")),
            lambda acc, m: F.replace(
                acc,
                F.concat(F.lit(" "), m["lhs"], F.lit("  "), m["rhs"], F.lit(" ")),
                F.concat(F.lit(" "), m["merged"], F.lit(" ")),
            ),
        ).alias("repr"),
    )
    return folded.select(
        "word", F.size(_bpe_symbols(F.col("repr"))).cast("long").alias("n_sym")
    )


def bpe_apply_oov(
    df: DataFrame,
    n_merges: int = BPE_MERGES,
    train_mod: int = 17,
    text_col: str = "text",
    key: str = "doc_id",
    merges_df: DataFrame | None = None,
) -> DataFrame:
    """(key, n_tokens, n_bpe_tokens) for HELD-OUT documents (key %
    train_mod == 0) segmented by a tokenizer trained only on the REST —
    the out-of-vocabulary serving path: every held-out word, seen or
    not, is segmented by replaying the stored merge table
    (bpe_segment_with_merges), exactly what a deployed tokenizer does
    to fresh crawl data. Distinct held-out words segment once
    (vocab-sized fold), documents pay one broadcast join.

    ``merges_df`` is the stored-artifact hook (the sim_topk_ivf_stored
    contract): a (rank, lhs, rhs, merged, pair_count) merge table —
    e.g. read back from parquet — replayed directly, with no training
    lineage in the serving plan."""
    train = df.where(F.pmod(F.col(key), F.lit(train_mod)) != 0)
    held = df.where(F.pmod(F.col(key), F.lit(train_mod)) == 0)
    merges = (
        merges_df if merges_df is not None else bpe_train_merges(train, n_merges, text_col)
    )
    words = held.select(F.explode(tokens(text_col)).alias("word")).distinct()
    seg = bpe_segment_with_merges(words, merges)
    toks = held.select(F.col(key), F.explode(tokens(text_col)).alias("word"))
    return (
        toks.join(F.broadcast(seg), "word")
        .groupBy(key)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
        )
    )


def bpe_vocab_coverage(
    df: DataFrame,
    train_mod: int = 17,
    text_col: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """One row: OOV drift of the held-out batch (key % train_mod == 0)
    against the STORED training vocabulary — the staleness QA for the
    tokenizer artifact, playing ivf_staleness's role for BPE. Serving
    known words is a vocab-table join (bpe_apply_tokens); every OOV
    word pays the merge-replay fold (bpe_apply_oov) and typically
    segments worse, so rising OOV rates are the retrain trigger for
    the stored merge table, exactly as cc_drift is for the stored
    centroids.

    Columns: n_batch_words (distinct), n_oov_words, n_batch_tokens
    (occurrences), n_oov_tokens, oov_word_rate, oov_token_rate.
    Pinned property: a batch whose words all appear in the training
    corpus has both rates exactly 0. Empty batch keeps NULL rates.

    Plan: two token explodes collapsing into word-keyed hash-aggs,
    one left join on the word key (vocab side Heaps-bounded — tiny
    next to the corpus, broadcastable at scale), one 1-row agg. No
    merge training in the plan at all: coverage only needs the word
    set, which is the cheap half of the stored artifact."""
    train = df.where(F.pmod(F.col(key), F.lit(train_mod)) != 0)
    held = df.where(F.pmod(F.col(key), F.lit(train_mod)) == 0)
    vocab = (
        train.select(F.explode(tokens(text_col)).alias("word"))
        .distinct()
        .withColumn("_known", F.lit(1))
    )
    batch_words = (
        held.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("occ"))
    )
    oov = F.when(F.col("_known").isNull(), 1).otherwise(0)
    return (
        batch_words.join(vocab, "word", "left")
        .agg(
            F.count("*").cast("long").alias("n_batch_words"),
            F.sum(oov).cast("long").alias("n_oov_words"),
            F.sum("occ").cast("long").alias("n_batch_tokens"),
            F.sum(oov * F.col("occ")).cast("long").alias("n_oov_tokens"),
        )
        .select(
            "*",
            F.round(F.try_divide("n_oov_words", "n_batch_words"), 6).alias(
                "oov_word_rate"
            ),
            F.round(F.try_divide("n_oov_tokens", "n_batch_tokens"), 6).alias(
                "oov_token_rate"
            ),
        )
    )


def bigram_logprob(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """(key, lm2_score): bigram language-model score with add-1
    smoothing — mean ln P(w2 | w1) over a document's adjacent token
    pairs, P = (c(w1,w2) + 1) / (c(w1·) + V). The sequel to
    unigram_logprob that actually sees word ORDER: scrambled text
    keeps its unigram score but collapses here. c(w1·) counts bigram
    contexts (so totals are consistent); V is the distinct-unigram
    vocabulary. Docs with < 2 tokens keep a NULL score.

    Plan: bigrams derive from the token array per row (slice + zip —
    no self-join on position); two hash-aggs train the LM (bigram
    freq, context freq), scoring is two equi-joins + a 1-row V
    broadcast + one keyed avg. Frequency tables are vocab-bounded."""
    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    df = spread(df)
    toks = tokens(text_col)
    bg = df.select(
        F.col(key),
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("b"),
    ).select(key, "b.w1", "b.w2")
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    v = df.select(F.explode(toks).alias("tok")).agg(
        F.countDistinct("tok").cast("long").alias("v")
    )
    scored = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy(key)
        .agg(
            F.round(
                F.avg(F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")).cast("double"))),
                6,
            ).alias("lm2_score")
        )
    )
    return df.select(key).join(scored, key, "left")


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_postings(
    df: DataFrame, text_col: str = "text", key: str = "doc_id"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(tf, dl, meta): the three BM25 index artifacts for a corpus —
    the per-(doc, term) frequency table, the per-doc length table,
    and a 1-row (n_docs) frame. These are the STORED form of a
    lexical index, and they are doc-keyed, so a batch's artifacts
    UNION into a corpus's by plain append (disjoint keys); df/idf/
    avgdl are derived from the merged tables at query time, which is
    what makes the posting store incrementally maintainable
    (bm25_search_stored pins append == rebuild under the search
    oracle verbatim)."""
    toks = df.select(F.col(key), F.explode(tokens(text_col)).alias("term"))
    tf = toks.groupBy(key, "term").agg(F.count("*").cast("long").alias("tf"))
    # dl is just the token-array length per row — a narrow map with NO
    # explode and NO shuffle (the pre-r15 shape exploded the corpus and
    # hash-agged it back per doc, guide §2.3/2.4). The >0 filter keeps
    # the exact row set of the old groupBy form, which emits no row for
    # a zero-token doc.
    dl = df.select(
        F.col(key), F.size(tokens(text_col)).cast("long").alias("dl")
    ).where(F.col("dl") > 0)
    meta = df.agg(F.count("*").cast("long").alias("n_docs"))
    return tf, dl, meta


def postings_takedown(
    tf: DataFrame,
    dl: DataFrame,
    forgotten: DataFrame,
    key: str = "doc_id",
    admitted: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(tf', dl', meta_delta): the BM25 posting store with a takedown
    set's rows purged — right-to-be-forgotten for the LEXICAL index.
    A forgotten doc influences ranking three ways: its own tf rows
    (it can be RETURNED — the direct leak), its dl row (it shifts
    avgdl for every other doc), and its +1 in n_docs (it shifts idf
    for every term). The first two purge by ``keyed_takedown``
    (operators/maintenance.py, the purge/replace contract); the
    third cannot be row-deleted from an append-only meta store, so it
    returns a COMPENSATING NEGATIVE partial (n_docs = -|forgotten
    docs actually in the store|, so takedown ids that never existed
    contribute 0) that the store appends and the reader sum-folds —
    the same append-and-sum contract bm25_search_stored's batch
    append uses, now exercised in the subtractive direction. Because
    df/idf/avgdl derive from tf/dl at QUERY time (never stored),
    purge == rebuild-on-survivors exactly — the equivalence the
    shared oracle pins.

    ``admitted``: the ingested-doc universe (the admitted ledger a
    production store keeps) — the membership source for the n_docs
    count. REQUIRED for exactness when zero-token docs can be
    ingested: n_docs counts every ingested doc but dl only has rows
    for docs with >=1 token, so the dl fallback (admitted=None) would
    fail to subtract a forgotten EMPTY doc and leave every idf
    slightly wrong (caught by the randomized takedown test).

    Plan shape: two keyed takedowns + one broadcast semi-join count;
    the posting store itself never shuffles."""
    f = forgotten.select(key)
    universe = admitted.select(key) if admitted is not None else dl
    meta_delta = (
        universe.join(F.broadcast(f), key, "left_semi")
        .agg((-F.count("*")).cast("long").alias("n_docs"))
    )
    return keyed_takedown(tf, f, key), keyed_takedown(dl, f, key), meta_delta


def postings_upsert(
    tf: DataFrame,
    dl: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    admitted: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(tf', dl', meta_delta): UPSERT into the BM25 posting store —
    re-ingest of CHANGED documents (the lexical twin of
    similarity.ivf_upsert): ``keyed_upsert`` of the tf and dl tables
    with ONLY the batch tokenized into fresh postings (a doc with no
    tokens still loses its old rows: the purge set is the batch ids);
    the meta delta nets the compensating negative partial (−|batch ∩
    store universe|, via ``admitted`` for zero-token-doc exactness —
    postings_takedown's contract) against the batch's +|batch|
    partial, so the append-and-sum meta store stays exact. Because df/idf/avgdl derive from tf/dl at query time,
    upsert == rebuild-on-current-corpus exactly, and replaying the
    same batch is idempotent — both pinned by
    tests/test_takedown.py::test_postings_upsert_equals_rebuild_and_replay.
    New ids are handled for free (the positive partial counts them) —
    upsert subsumes append. Cost: batch-sized tokenize + request-sized
    keyed purges; the store never shuffles."""
    ids = batch.select(key)
    _, _, mdelta = postings_takedown(tf, dl, ids, key, admitted)
    btf, bdl, bmeta = bm25_postings(batch, text_col, key)
    return (
        keyed_upsert(tf, ids, btf, key),
        keyed_upsert(dl, ids, bdl, key),
        mdelta.unionByName(bmeta),
    )


def bm25_search(
    df: DataFrame,
    queries: list[tuple[int, str]],
    topn: int = 10,
    text_col: str = "text",
    key: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
    tf_df: DataFrame | None = None,
    dl_df: DataFrame | None = None,
    meta_df: DataFrame | None = None,
) -> DataFrame:
    """(query_id, key, score, rank): BM25 ranking of the corpus for a
    small set of keyword queries (Robertson/Sparck Jones; the Lucene
    +1 idf form, so scores stay positive) — lexical retrieval next to
    the embedding tiers, and the standard hybrid-search complement.

    score(q, d) = sum over query terms of
        ln((N - df + 0.5)/(df + 0.5) + 1)
        * tf * (k1 + 1) / (tf + k1 * (1 - b + b * |d|/avgdl))

    Plan shape: one token explode feeds the tf table (doc, term) and
    the df table (term); both are hash-aggs with map-side partials.
    The query-term list and the 1-row (N, avgdl) frame broadcast; the
    scoring join touches only rows whose term appears in a query —
    posting-list-sized, not corpus-sized. Top-n per query is a window
    over queries x topn candidates.

    ``tf_df``/``dl_df``/``meta_df``: optional STORED index artifacts
    (bm25_postings) — pass all three and the corpus never appears in
    the plan: df/idf/avgdl derive from the stored tables, scoring is
    the same posting-list-sized join. This is the serving hook the
    incremental posting store uses (append batch artifacts, search
    the merged store)."""
    from pyspark.sql import Window

    session = (tf_df if tf_df is not None else df).sparkSession
    q = session.createDataFrame(queries, f"query_id int, q string")
    qterms = q.select("query_id", F.explode(tokens("q")).alias("term")).distinct()
    # gate the vocab-wide tf table down to QUERY terms once, and
    # persist the result: it is posting-list-sized (only rows whose
    # term appears in a query) and feeds BOTH the df aggregation and
    # the scoring join — Spark does not dedupe common subplans, so the
    # pre-r15 shape recomputed the corpus token explode + tf hash-agg
    # for each branch (guide §2.3/§2.4: shuffle — and scan — fewer
    # bytes; df per surviving term still counts over the full corpus,
    # so every value is unchanged)
    if tf_df is not None:
        tf, dl, meta = tf_df, dl_df, meta_df
        ptf = cached(tf.join(
            F.broadcast(qterms.select("term").distinct()), "term", "left_semi"
        ))
        scoring_rows = ptf.join(dl, key)
        stats = meta.crossJoin(F.broadcast(dl.agg(F.avg("dl").alias("avgdl"))))
    else:
        # Inline path: the pre-r16 shape derived tf, dl and avgdl from
        # THREE separate tokenize passes over the corpus (tf explode,
        # the dl scoring join, the avgdl agg) plus a count-only scan
        # for n_docs — four corpus scans for one ranking. Here dl rides
        # the tf grouping (dl is a function of the doc key, so adding
        # it to the groupBy changes no group), which deletes the dl
        # scoring join outright, and n_docs + avgdl collapse into ONE
        # agg pass (avg ignores the NULL the <=0 guard produces,
        # matching the dl table's >0 row filter). Two corpus scans
        # total; every value is unchanged (guide §2.3/§2.4).
        toks = tokens(text_col)
        exploded = df.select(F.col(key), toks.alias("_toks")).select(
            key, F.size("_toks").cast("long").alias("dl"), F.explode("_toks").alias("term")
        )
        ptf = cached(
            exploded.join(
                F.broadcast(qterms.select("term").distinct()), "term", "left_semi"
            )
            .groupBy(key, "dl", "term")
            .agg(F.count("*").cast("long").alias("tf"))
        )
        scoring_rows = ptf
        stats = df.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.avg(F.when(F.size(toks) > 0, F.size(toks).cast("long"))).alias("avgdl"),
        )
    dft = ptf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scored = (
        scoring_rows.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            key,
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                )
                * F.col("tf")
                * (k1 + 1)
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("_s"),
        )
        .groupBy("query_id", key)
        .agg(F.round(F.sum("_s"), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(key))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= topn)
        .select("query_id", key, "score", "rank")
    )


def lang_confusion(df: DataFrame, text_col: str = "text", lang_col: str = "lang") -> DataFrame:
    """(lang, predicted_lang, n, share): confusion matrix of the
    marker-word language identifier against the labeled language —
    the accuracy QA for the lang-ID gate itself (which rows of the
    corpus the heuristic would mis-route). share is row-normalized
    within the true language.

    Plan shape: the per-doc scoring is a narrow map (lang_id), then
    one tiny (langs x langs+und)-group hash-agg and a windowed
    normalizer over that frame."""
    pred = lang_id(df, text_col)
    counts = pred.groupBy(F.col(lang_col).alias("lang"), "predicted_lang").agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.partitionBy("lang")
    return counts.select(
        "lang",
        "predicted_lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(w).cast("double"), 6).alias("share"),
    )


def dsir_importance(
    df: DataFrame, target: DataFrame, text_col: str = "text", key: str = "doc_id"
) -> DataFrame:
    """(key, n_tokens, dsir_weight): DSIR-style importance weight per
    document — the mean over tokens of ln(p_target(w) / p_raw(w)),
    add-1 smoothed over the raw corpus vocabulary (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling").
    Documents resembling the target domain score high; resampling the
    corpus proportionally to exp(weight) shifts it toward the target.
    The cheap hashed-feature stand-in for domain-targeted curation
    when no trained classifier is available.

    ``target`` is a frame with the same ``text_col`` — typically a
    small in-domain sample. The vocabulary is the UNION of raw and
    target tokens (full-outer join, both counts filled with 0), so an
    EXTERNAL target corpus keeps its full token mass: both LMs are
    genuine add-1-smoothed distributions over the shared support, and
    no target token silently drops out of tn or V (ADVICE r06).
    Target-only tokens never re-enter the scoring join (raw docs
    can't contain them) — they matter exactly through the smoothing
    denominators, as in the paper.

    Plan shape: two token explodes feed two vocab-sized hash-aggs
    (raw LM and target LM — Heaps-bounded, like unigram_logprob); the
    per-token log-ratio table broadcasts via the 1-row totals; scoring
    is one equi-join on token plus one keyed avg. At 100 TB the only
    corpus-sized stages are the explode and the final keyed agg — both
    linear, no window, no self-join. Zero-token docs keep NULL.

    Determinism: ln on both engines differs at ~1 ulp, far below the
    6-decimal rounding grain (the text_lm_score precedent).
    """
    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    df = spread(df)
    tok = df.select(F.col(key), F.explode(tokens(text_col)).alias("tok"))
    ttok = target.select(F.explode(tokens(text_col)).alias("tok"))
    raw_freq = tok.groupBy("tok").agg(F.count("*").alias("rf"))
    tgt_freq = ttok.groupBy("tok").agg(F.count("*").alias("tf"))
    w0 = raw_freq.join(tgt_freq, "tok", "full_outer").na.fill(0, ["rf", "tf"])
    totals = w0.agg(
        F.sum("rf").cast("double").alias("rn"),
        F.sum("tf").cast("double").alias("tn"),
        F.count("*").cast("double").alias("v"),
    )
    lr = w0.crossJoin(F.broadcast(totals)).select(
        "tok",
        F.log(
            ((F.col("tf") + 1) / (F.col("tn") + F.col("v")))
            / ((F.col("rf") + 1) / (F.col("rn") + F.col("v")))
        ).alias("lr"),
    )
    scored = (
        tok.join(lr, "tok")
        .groupBy(key)
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.round(F.avg("lr"), 6).alias("dsir_weight"),
        )
    )
    return df.select(key).join(scored, key, "left")


def repetition_filters(
    df: DataFrame, text_col: str = "text", key: str = "doc_id"
) -> DataFrame:
    """(key, dup_line_frac, dup_line_char_frac, top_2gram_char_frac,
    dup_5gram_char_frac): the Gopher REPETITION rules (Rae et al. 2021,
    table A1 — the half of the rule set gopher_quality's scalar
    features don't cover). Machine-generated and boilerplate text
    repeats itself; these four fractions are the standard signals:

    - dup_line_frac: fraction of (trimmed, non-empty) lines whose text
      occurs more than once in the document;
    - dup_line_char_frac: fraction of line characters inside such
      duplicated lines (all occurrences count);
    - top_2gram_char_frac: characters covered by occurrences of the
      single most frequent word bigram (ties -> lexicographically
      smallest), over total token characters;
    - dup_5gram_char_frac: fraction of token characters at POSITIONS
      covered by any 5-gram that occurs at least twice in the doc
      (positional coverage — overlapping duplicated grams don't
      double-count a position; the within-doc analogue of the
      span-coverage machinery in dedup.span_dedup_rewrite).

    Docs with no lines / fewer tokens than the gram width get 0 for
    the respective fractions (nothing repeats in an empty structure),
    keeping every output non-NULL so downstream gates can threshold
    directly.

    Plan shape: three explodes (lines, bigrams, 5-gram positions) each
    feeding per-(doc, unit) hash-aggs and then per-doc rollups — all
    keyed by doc, no windows over the corpus, no joins wider than the
    doc's own units. Linear at any corpus size."""
    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    df = spread(df)
    base = df.select(F.col(key))

    # --- lines ---
    lines = df.select(
        F.col(key), F.explode(F.split(F.col(text_col), "\n")).alias("ln")
    ).select(F.col(key), F.trim(F.col("ln")).alias("ln")).where(F.col("ln") != "")
    per_line = lines.groupBy(key, "ln").agg(F.count("*").alias("c"))
    line_stats = per_line.groupBy(key).agg(
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
            / F.sum("c").cast("double"),
            6,
        ).alias("dup_line_frac"),
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c") * F.length("ln")).otherwise(0))
            / F.sum(F.col("c") * F.length("ln")).cast("double"),
            6,
        ).alias("dup_line_char_frac"),
    )

    # --- token positions (5-gram coverage lengths only) ---
    toks = df.select(
        F.col(key), F.posexplode(tokens(text_col)).alias("pos", "w")
    )
    # total token chars: a narrow per-row array fold — the pre-r15
    # shape exploded tokens and hash-agged them back per doc (an
    # exchange for a number each row can compute locally, guide §2.3)
    ws0 = tokens(text_col)
    tok_chars = df.select(
        F.col(key),
        F.aggregate(
            F.transform(ws0, lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double").alias("tchars"),
    ).where(F.col("tchars") > 0)

    # --- top bigram ---
    # adjacent pairs straight off the token array (same pattern as the
    # 5-gram block below) — the pre-r15 shape SELF-JOINED the exploded
    # token table on (key, pos-1): a corpus-sized exchange + join to
    # pair rows that sit adjacent in one array (guide §2.4)
    bigrams = F.when(
        F.size(ws0) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(ws0) - 2),
            lambda i: F.struct(
                F.concat_ws(
                    " ", F.element_at(ws0, i + 1), F.element_at(ws0, (i + 2).cast("int"))
                ).alias("g"),
                (
                    F.length(F.element_at(ws0, i + 1))
                    + F.length(F.element_at(ws0, (i + 2).cast("int")))
                ).alias("glen"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<g:string,glen:int>>"))
    bg = df.select(F.col(key), F.explode(bigrams).alias("b")).select(
        F.col(key), F.col("b.g").alias("g"), F.col("b.glen").alias("glen")
    )
    per_bg = bg.groupBy(key, "g", "glen").agg(F.count("*").alias("c"))
    # per-doc argmax by (count desc, gram asc) as a plain hash-agg —
    # min of (−c, g) struct — instead of a row_number window (the agg
    # does partial aggregation map-side; the window shuffled and
    # sorted every (doc, gram) row, guide §2.3)
    top_bg = (
        per_bg.groupBy(key)
        .agg(F.min(F.struct((-F.col("c")).alias("negc"), "g", "glen")).alias("t"))
        .join(tok_chars, key)
        .select(
            F.col(key),
            F.round(
                (-F.col("t.negc")) * F.col("t.glen") / F.col("tchars"), 6
            ).alias("top_2gram_char_frac"),
        )
    )

    # --- duplicated 5-gram positional coverage ---
    # (built straight off the token array; the size>=n guard matters —
    # F.sequence(0, size-n) DESCENDS when size < n)
    n = 5
    ws = tokens(text_col)
    grams5 = F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(ws, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g5 = df.select(F.col(key), F.posexplode(grams5).alias("pos", "g"))
    g5_counts = g5.groupBy(key, "g").agg(
        F.count("*").alias("c"), F.collect_list("pos").alias("starts")
    )
    covered = (
        g5_counts.where(F.col("c") >= 2)
        .select(F.col(key), F.explode("starts").alias("start"))
        .select(
            F.col(key),
            F.explode(F.sequence(F.col("start"), F.col("start") + n - 1)).alias("pos"),
        )
        .distinct()
    )
    cov_chars = (
        covered.join(toks, [key, "pos"])
        .groupBy(key)
        .agg(F.sum(F.length("w")).cast("double").alias("cchars"))
    )
    dup5 = tok_chars.join(cov_chars, key, "left").select(
        F.col(key),
        F.round(F.coalesce(F.col("cchars"), F.lit(0.0)) / F.col("tchars"), 6).alias(
            "dup_5gram_char_frac"
        ),
    )

    return (
        base.join(line_stats, key, "left")
        .join(top_bg, key, "left")
        .join(dup5, key, "left")
        .select(
            key,
            F.coalesce("dup_line_frac", F.lit(0.0)).alias("dup_line_frac"),
            F.coalesce("dup_line_char_frac", F.lit(0.0)).alias("dup_line_char_frac"),
            F.coalesce("top_2gram_char_frac", F.lit(0.0)).alias("top_2gram_char_frac"),
            F.coalesce("dup_5gram_char_frac", F.lit(0.0)).alias("dup_5gram_char_frac"),
        )
    )


def ccnet_lm_buckets(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    key: str = "doc_id",
) -> DataFrame:
    """(key, lang, lm_score, lm_bucket): CCNet's head/middle/tail
    partition (Wenzek et al. 2020) — each LANGUAGE's documents split
    into perplexity terciles by the unigram LM score, so a pipeline
    can keep 'head', sample 'middle', and drop 'tail' per language
    instead of applying one global threshold that would starve
    low-resource languages.

    head = the best-scoring tercile (highest mean ln-probability =
    most fluent under the corpus LM). Ties break on (score desc, key
    asc) so the tercile boundary is deterministic; zero-token docs
    keep NULL score AND NULL bucket (CCNet drops them before
    bucketing).

    Plan: unigram_logprob's two shuffles + ONE per-language ntile
    window over (score, key) — the window is per-lang, so it
    parallelizes across languages; within a language the ranked frame
    is (key, score) pairs only, a tiny fraction of corpus bytes. At
    extreme per-language skew the same two-phase trick as
    cap_per_source applies; at CCNet's own scale (per-lang shards) the
    plain window is the deployed shape."""
    scored = unigram_logprob(df, text_col, key).join(
        df.select(F.col(key), F.col(lang_col)), key
    )
    w = Window.partitionBy(lang_col).orderBy(
        F.desc("lm_score"), F.asc(key)
    )
    bucketed = scored.where(F.col("lm_score").isNotNull()).withColumn(
        "t", F.ntile(3).over(w)
    )
    named = bucketed.select(
        key,
        lang_col,
        "lm_score",
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), F.col("t")
        ).alias("lm_bucket"),
    )
    return (
        df.select(F.col(key), F.col(lang_col))
        .join(named.drop(lang_col), key, "left")
        .select(key, lang_col, "lm_score", "lm_bucket")
    )


def token_budget_recipe(
    df: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.5,
    budget_frac: float = 1.0,
    max_epochs: float = 4.0,
    text_col: str = "text",
) -> DataFrame:
    """(group, n_tokens, token_share, mix_weight, target_tokens,
    epochs, upsampled, over_repeat_cap): the TOKEN-denominated data
    recipe next to temperature_mix_recipe's doc-denominated one —
    the unit an LLM training budget is actually written in. Each
    group's sampled token mass is share^alpha renormalized (same
    temperature form), scaled to a budget of ``budget_frac`` x the
    corpus's total tokens; ``epochs`` = target_tokens / n_tokens is
    how many passes over that group's data the recipe implies.
    ``upsampled`` marks groups repeated beyond one epoch, and
    ``over_repeat_cap`` marks groups whose implied repetition exceeds
    ``max_epochs`` — the data-constrained-scaling regime (Muennighoff
    et al. 2023: value decays past ~4 epochs) where the recipe is
    asking for more unique data than the group has.

    Plan shape: ONE corpus scan (per-row token count is a narrow
    size(split()) map, no explode), one |groups|-row hash-agg with
    map-side partials, and a 1-row broadcast normalizer — after the
    scan nothing scales with corpus rows. Epoch flags compare the
    UNROUNDED ratio (identical IEEE arithmetic in any engine);
    displayed doubles are 6-rounded. Empty groups (zero tokens) keep
    their row with NULL epochs/flags."""
    counts = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.sum(F.size(tokens(text_col)).cast("long")).cast("long").alias("n_tokens")
    )
    tot = counts.agg(
        F.sum("n_tokens").cast("long").alias("_total"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))).alias("_wsum_raw"),
    )
    share = F.col("n_tokens") / F.col("_total").cast("double")
    mw = F.pow(share, F.lit(alpha)) / (
        F.col("_wsum_raw") / F.pow(F.col("_total").cast("double"), F.lit(alpha))
    )
    target = mw * F.lit(budget_frac) * F.col("_total")
    epochs = target / F.col("n_tokens").cast("double")
    has_tokens = F.col("n_tokens") > 0
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("grp").alias(group_col),
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        F.round(mw, 6).alias("mix_weight"),
        F.round(target, 6).alias("target_tokens"),
        F.when(has_tokens, F.round(epochs, 6)).alias("epochs"),
        F.when(has_tokens, epochs > F.lit(1.0)).alias("upsampled"),
        F.when(has_tokens, epochs > F.lit(max_epochs)).alias("over_repeat_cap"),
    )


def bpe_fertility(
    df: DataFrame,
    n_merges: int = BPE_MERGES,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """(group, n_words, n_bpe_tokens, n_chars, fertility,
    chars_per_token): per-group tokenizer FERTILITY (BPE tokens per
    word) and compression (characters per BPE token) under the
    trained segmentation — the standard multilingual-tokenizer equity
    metric: a language the merge table underserves segments into more
    pieces per word (high fertility), pays more sequence length for
    the same text, and is the first candidate for more merges or
    more training data. The per-language twin of bpe_apply_tokens'
    per-document budget, and the quality half of the staleness pair
    with bpe_vocab_coverage (coverage says how much of the batch the
    vocab has seen; fertility says how WELL it segments what it saw).

    Application is vocab-level exactly like bpe_apply_tokens: the
    trained reprs are the segmentation, so the corpus pays one
    explode + one broadcast |V|-row join + a |groups|-row hash-agg —
    the merge loop never touches per-document data. fertility >= 1
    always (every word is at least one symbol); both ratios are
    6-rounded, and a group with zero words cannot appear (inner
    join on exploded words)."""
    _, reprs = _bpe_train_reprs(df, n_merges, text_col)
    vocab = reprs.select(
        "word", F.size(_bpe_symbols(F.col("repr"))).cast("long").alias("n_sym")
    )
    toks = df.select(
        F.col(group_col).alias("grp"), F.explode(tokens(text_col)).alias("word")
    )
    return (
        toks.join(F.broadcast(vocab), "word")
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_words",
            "n_bpe_tokens",
            "n_chars",
            F.round(
                F.col("n_bpe_tokens") / F.col("n_words").cast("double"), 6
            ).alias("fertility"),
            F.round(
                F.col("n_chars") / F.col("n_bpe_tokens").cast("double"), 6
            ).alias("chars_per_token"),
        )
    )


def corpus_datacard(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """(metric, value): the one-frame data card a corpus release ships
    — the headline numbers every other QA query drills into, in a
    single cheap plan: row/source/language counts, token and char
    mass, empty-doc and exact-duplicate fractions, mean document
    length, and the dominant language's share (the skew number that
    decides whether mixing needs temperature at all).

    Plan: ONE corpus scan into a 1-row multi-aggregate (count /
    countDistinct / sums — all map-side partial), one |langs|-row agg
    for the mode share, a 1-row cross join, and an unpivot (stack) of
    the single row into (metric, value) — nothing after the scan
    scales with the corpus. Values are doubles rounded to 6 so counts
    and fractions share one column."""
    t = F.size(tokens(text_col)).cast("long")
    main = df.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.countDistinct("source").cast("double").alias("n_sources"),
        F.countDistinct("lang").cast("double").alias("n_langs"),
        F.sum(t).cast("double").alias("total_tokens"),
        F.sum(F.length(text_col)).cast("double").alias("total_chars"),
        F.sum(F.when(t == 0, 1).otherwise(0)).cast("double").alias("n_empty"),
        F.countDistinct(F.sha2(F.col(text_col), 256)).cast("double").alias("_n_uniq"),
    )
    top_lang = (
        df.groupBy("lang")
        .agg(F.count("*").cast("long").alias("_c"))
        .agg(F.max("_c").cast("double").alias("_top_lang_docs"))
    )
    row = main.crossJoin(F.broadcast(top_lang)).select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_tokens",
        "total_chars",
        "n_empty",
        F.round(F.col("n_empty") / F.col("n_docs"), 6).alias("empty_fraction"),
        F.round(F.lit(1.0) - F.col("_n_uniq") / F.col("n_docs"), 6).alias(
            "exact_dup_fraction"
        ),
        F.round(F.col("total_tokens") / F.col("n_docs"), 6).alias("mean_doc_tokens"),
        F.round(F.col("_top_lang_docs") / F.col("n_docs"), 6).alias("top_lang_share"),
    )
    cols = [
        "n_docs", "n_sources", "n_langs", "total_tokens", "total_chars",
        "n_empty", "empty_fraction", "exact_dup_fraction", "mean_doc_tokens",
        "top_lang_share",
    ]
    stack = ", ".join(f"'{c}', {c}" for c in cols)
    return row.selectExpr(f"stack({len(cols)}, {stack}) AS (metric, value)")


def hll_merge_sources(
    df: DataFrame,
    value_col: str = "text",
    group_col: str = "source",
    p: int = 8,
) -> DataFrame:
    """One row proving the HLL MERGE ALGEBRA on a hand-built,
    engine-exact HyperLogLog (Flajolet et al. 2007): per-group
    register sketches (max rho per register) merged by per-register
    max must equal the from-scratch global sketch — max-of-maxes =
    global max, the property that makes HLL the 100-TB distinct
    counter (partial sketches per partition/day/source union freely;
    Spark's built-in approx_count_distinct proves a BOUND, this
    proves the ALGEBRA, register for register).

    Columns: m, n_exact, est_merged, est_direct, merged_equals_direct
    (register tables compared exactly — both estimates derive from
    them so the doubles are bit-identical too), rel_error, within_
    bound (|est-exact|/exact <= 0.2 ~ 3 sigma at m=256).

    Construction is deterministic integer arithmetic end-to-end: the
    60-bit md5 prefix (the Bloom-filter hash plumbing), register =
    h mod m, rho = leading-zero rank of the remaining 52 bits via
    length(bin(w)); the estimator (harmonic mean + linear-counting
    small-range correction) is the only double math, written
    identically in the oracle. Plan: one scan into a (groups x m)-row
    hash-agg with map-side partials; everything after is
    register-table-sized (m rows per group)."""
    m = 1 << p
    wbits = 60 - p  # h < 2^60 (15 hex digits), w = h div m
    base = (
        df.where(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            F.conv(F.substring(F.md5(F.col(value_col)), 1, 15), 16, 10)
            .cast("bigint")
            .alias("_h"),
        )
        .select(
            "grp",
            F.pmod(F.col("_h"), F.lit(m)).cast("int").alias("reg"),
            F.expr(f"_h div {m}").alias("_w"),
        )
        .select(
            "grp",
            "reg",
            F.when(F.col("_w") == 0, F.lit(wbits + 1))
            .otherwise(F.lit(wbits + 1) - F.length(F.bin("_w")))
            .cast("int")
            .alias("rho"),
        )
    )
    per_src = base.groupBy("grp", "reg").agg(F.max("rho").alias("rho"))
    merged = per_src.groupBy("reg").agg(F.max("rho").alias("rho"))
    direct = base.groupBy("reg").agg(F.max("rho").alias("rho"))

    def estimate(regs: DataFrame, name: str) -> DataFrame:
        s = regs.agg(
            F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("_s"),
            F.count("*").cast("long").alias("_nz"),
        )
        zeros = (F.lit(m) - F.col("_nz")).cast("double")
        raw = F.lit(0.7213 / (1 + 1.079 / m)) * m * m / (F.col("_s") + zeros)
        est = F.when(
            (raw <= 2.5 * m) & (zeros > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
        ).otherwise(raw)
        return s.select(F.round(est, 6).alias(name))

    diff = (
        merged.withColumnRenamed("rho", "_rm")
        .join(direct.withColumnRenamed("rho", "_rd"), "reg", "full_outer")
        .where(
            ~(F.col("_rm").eqNullSafe(F.col("_rd")))
        )
        .agg(F.count("*").cast("long").alias("_n_diff"))
    )
    exact = df.where(F.col(value_col).isNotNull()).agg(
        F.countDistinct(value_col).cast("long").alias("n_exact")
    )
    row = (
        exact.crossJoin(F.broadcast(estimate(merged, "est_merged")))
        .crossJoin(F.broadcast(estimate(direct, "est_direct")))
        .crossJoin(F.broadcast(diff))
    )
    rel = F.abs(F.col("est_direct") - F.col("n_exact")) / F.col("n_exact").cast(
        "double"
    )
    return row.select(
        F.lit(m).cast("int").alias("m"),
        "n_exact",
        "est_merged",
        "est_direct",
        (F.col("_n_diff") == 0).alias("merged_equals_direct"),
        F.round(rel, 6).alias("rel_error"),
        (rel <= 0.2).alias("within_bound"),
    )


def corpus_datacard_merge(
    df: DataFrame,
    n_parts: int = 7,
    text_col: str = "text",
    key: str = "doc_id",
    p: int = 8,
) -> DataFrame:
    """(metric, value): the MERGEABLE data card — corpus_datacard's
    release summary rebuilt so every metric is maintainable from
    per-ingest partial states, O(state + batch) per day instead of a
    nightly corpus re-scan. The registered query computes the card by
    actually SPLITTING the corpus into ``n_parts`` synthetic "days",
    building each day's partial state, and merging; the oracle
    computes every metric direct — so the hash equality IS the
    mergeability proof, metric for metric (the hll_merge_sources
    pattern generalized to the whole card).

    The state per partial is bounded: 1 scalar row (counts + sums),
    a |langs|-row and a |sources|-row count table (distinct-counts
    over LOW-cardinality columns are mergeable as per-key sum tables;
    n_langs/n_sources = merged-table row count, top_lang_share =
    merged-table max), and an m-register HLL over text hashes —
    which is where the card necessarily diverges from the exact
    card: a mergeable unique-text count must be a sketch (exact
    distinct over an unbounded column cannot merge in bounded state),
    so this card ships est_uniq_texts + approx_dup_fraction instead
    of corpus_datacard's exact exact_dup_fraction. Both cards are
    registered; the delta between their dup fractions at fixture
    scale is the sketch error the approx_distinct_error row already
    bounds."""
    m = 1 << p
    wbits = 60 - p
    t = F.size(tokens(text_col)).cast("long")
    part = F.pmod(F.col(key), F.lit(n_parts)).alias("_p")
    scal = (
        df.groupBy(part)
        .agg(
            F.count("*").cast("long").alias("_n"),
            F.sum(t).alias("_tok"),
            F.sum(F.length(text_col)).alias("_ch"),
            F.sum(F.when(t == 0, 1).otherwise(0)).alias("_emp"),
        )
        .agg(
            F.sum("_n").cast("double").alias("n_docs"),
            F.sum("_tok").cast("double").alias("total_tokens"),
            F.sum("_ch").cast("double").alias("total_chars"),
            F.sum("_emp").cast("double").alias("n_empty"),
        )
    )
    lang_merged = (
        df.groupBy(part, "lang")
        .agg(F.count("*").alias("_c"))
        .groupBy("lang")
        .agg(F.sum("_c").alias("_c"))
    )
    lang_stats = lang_merged.agg(
        F.count("*").cast("double").alias("n_langs"),
        F.max("_c").cast("double").alias("_top_lang_docs"),
    )
    source_stats = (
        df.groupBy(part, "source")
        .agg(F.count("*").alias("_c"))
        .groupBy("source")
        .agg(F.sum("_c").alias("_c"))
        .agg(F.count("*").cast("double").alias("n_sources"))
    )
    regs = (
        df.where(F.col(text_col).isNotNull())
        .select(
            part,
            F.conv(F.substring(F.md5(F.col(text_col)), 1, 15), 16, 10)
            .cast("bigint")
            .alias("_h"),
        )
        .select(
            "_p",
            F.pmod(F.col("_h"), F.lit(m)).cast("int").alias("reg"),
            F.expr(f"_h div {m}").alias("_w"),
        )
        .select(
            "_p",
            "reg",
            F.when(F.col("_w") == 0, F.lit(wbits + 1))
            .otherwise(F.lit(wbits + 1) - F.length(F.bin("_w")))
            .cast("int")
            .alias("rho"),
        )
        .groupBy("_p", "reg")
        .agg(F.max("rho").alias("rho"))
        .groupBy("reg")
        .agg(F.max("rho").alias("rho"))
    )
    est_agg = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("_s"),
        F.count("*").cast("long").alias("_nz"),
    )
    zeros = (F.lit(m) - F.col("_nz")).cast("double")
    raw = F.lit(0.7213 / (1 + 1.079 / m)) * m * m / (F.col("_s") + zeros)
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    uniq = est_agg.select(F.round(est, 6).alias("est_uniq_texts"))
    row = (
        scal.crossJoin(F.broadcast(lang_stats))
        .crossJoin(F.broadcast(source_stats))
        .crossJoin(F.broadcast(uniq))
        .select(
            "n_docs",
            "n_sources",
            "n_langs",
            "total_tokens",
            "total_chars",
            "n_empty",
            F.round(F.col("n_empty") / F.col("n_docs"), 6).alias("empty_fraction"),
            "est_uniq_texts",
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0) - F.col("est_uniq_texts") / F.col("n_docs"),
                ),
                6,
            ).alias("approx_dup_fraction"),
            F.round(F.col("total_tokens") / F.col("n_docs"), 6).alias(
                "mean_doc_tokens"
            ),
            F.round(F.col("_top_lang_docs") / F.col("n_docs"), 6).alias(
                "top_lang_share"
            ),
        )
    )
    cols = [
        "n_docs", "n_sources", "n_langs", "total_tokens", "total_chars",
        "n_empty", "empty_fraction", "est_uniq_texts", "approx_dup_fraction",
        "mean_doc_tokens", "top_lang_share",
    ]
    stack = ", ".join(f"'{c}', {c}" for c in cols)
    return row.selectExpr(f"stack({len(cols)}, {stack}) AS (metric, value)")


def quantile_hist_merge(
    df: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    n_parts: int = 7,
    n_bins: int = 256,
    bin_width: int = 8,
) -> DataFrame:
    """One row proving the MERGE ALGEBRA of histogram quantiles — the
    quantile counterpart of hll_merge_sources. Spark's built-in
    approx_percentile sketch is checked by the approx_percentile_error
    row for its BOUND only; this row hand-builds the simplest mergeable
    quantile structure (a fixed equi-width histogram: bin =
    min(floor(v/w), n_bins-1) over text char lengths), builds it from
    ``n_parts`` per-day PARTIAL histograms merged by per-bin sum, and
    pins three properties in engine-exact integer arithmetic:

      - merged_equals_direct: partial-sum merge == from-scratch
        histogram, bin for bin (sum-of-counts is the trivial-but-
        load-bearing algebra that lets 100-TB percentile dashboards
        maintain per-day histograms and merge at query time);
      - est vs exact at p50/p90/p99: histogram estimate = upper edge
        of the first bin whose cumulative count reaches ceil(q·n);
        exact = min value whose cumulative count reaches the same
        target (percentile_disc semantics, hand-written identically
        in both engines to dodge builtin quantile-definition drift);
      - within_bin_width: |est − exact| ≤ w for every q — the
        histogram quantile error bound, which holds whenever the
        value lands below the clamp (values ≥ n_bins·w share the top
        bin and void the bound; fixture lengths sit far below the
        2048 cap).

    Plan: one corpus scan into a ≤(n_parts·n_bins)-row hash-agg;
    everything after is histogram-sized (two 256-row windows, 1-row
    aggregates composed by broadcast)."""
    from pyspark.sql import Window

    v = F.length(F.col(text_col)).cast("long")
    b = F.least(F.floor(v / bin_width), F.lit(n_bins - 1)).cast("int")
    base = df.where(F.col(text_col).isNotNull()).select(
        F.pmod(F.col(key), F.lit(n_parts)).alias("_p"),
        b.alias("bin"),
        v.alias("v"),
    )
    merged = (
        base.groupBy("_p", "bin")
        .agg(F.count("*").alias("_c"))
        .groupBy("bin")
        .agg(F.sum("_c").alias("c"))
    )
    direct = base.groupBy("bin").agg(F.count("*").alias("c"))
    diff = (
        merged.withColumnRenamed("c", "_cm")
        .join(direct.withColumnRenamed("c", "_cd"), "bin", "full_outer")
        .where(~F.col("_cm").eqNullSafe(F.col("_cd")))
        .agg(F.count("*").cast("long").alias("_n_diff"))
    )
    n = base.agg(F.count("*").cast("long").alias("n_docs"))
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum_hist = merged.withColumn("cum", F.sum("c").over(wb)).crossJoin(
        F.broadcast(n)
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum_vals = (
        base.groupBy("v")
        .agg(F.count("*").alias("c"))
        .withColumn("cum", F.sum("c").over(wv))
        .crossJoin(F.broadcast(n))
    )
    row = n
    for q, name in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        target = F.ceil(F.lit(q) * F.col("n_docs"))
        est = (
            cum_hist.where(F.col("cum") >= target)
            .agg(
                ((F.min("bin") + 1) * bin_width)
                .cast("long")
                .alias(f"est_{name}")
            )
        )
        exact = cum_vals.where(F.col("cum") >= target).agg(
            F.min("v").cast("long").alias(f"exact_{name}")
        )
        row = row.crossJoin(F.broadcast(est)).crossJoin(F.broadcast(exact))
    row = row.crossJoin(F.broadcast(diff))
    err = F.greatest(
        *[
            F.abs(F.col(f"est_{nm}") - F.col(f"exact_{nm}"))
            for nm in ("p50", "p90", "p99")
        ]
    )
    return row.select(
        "n_docs",
        "est_p50",
        "exact_p50",
        "est_p90",
        "exact_p90",
        "est_p99",
        "exact_p99",
        (F.col("_n_diff") == 0).alias("merged_equals_direct"),
        (err <= F.lit(bin_width)).alias("within_bin_width"),
    )


def psi_length_hist(
    df: DataFrame,
    text_col: str = "text",
    n_bins: int = 256,
    bin_width: int = 8,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(bin, c): the equi-width text-length histogram marginal PSI
    runs on — the quantile_hist_merge binning. NULL-text rows carry
    no length and are excluded. This is the bounded (≤n_bins rows)
    partial a per-day dashboard stores; drift monitoring then never
    rescans the corpus (see streaming/drift.py). ``group_cols``
    prepends grouping keys (the refold path recomputes several
    batches' marginals in one grouped pass)."""
    v = F.length(F.col(text_col)).cast("long")
    b = F.least(F.floor(v / bin_width), F.lit(n_bins - 1)).cast("int")
    g = list(group_cols or [])
    return (
        df.where(F.col(text_col).isNotNull())
        .select(*g, b.alias("bin"))
        .groupBy(*g, "bin")
        .agg(F.count("*").cast("long").alias("c"))
    )


def psi_lang_marginal(df: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """(lang, c): the language-mix marginal. Every row keeps its lang
    row (NULL lang is its own group), so sum(c) == row count — the
    scalar PSI needs rides inside this marginal for free."""
    g = list(group_cols or [])
    return df.groupBy(*g, "lang").agg(F.count("*").cast("long").alias("c"))


def psi_from_marginals(
    hist_base: DataFrame,
    hist_batch: DataFrame,
    lang_base: DataFrame,
    lang_batch: DataFrame,
    n_bins: int = 256,
) -> DataFrame:
    """Compose the drift_psi output row from the four stored marginals
    alone — the arithmetic drift_psi defines, factored so the batch
    query (corpus inputs) and the streaming face (stored partial
    folds) provably share it. n_base/n_batch are recovered as
    sum(lang c) — exact because the lang marginal drops no row."""

    def _psi_from(
        pa: DataFrame, pb: DataFrame, keycol: str, support
    ) -> DataFrame:
        a = pa.withColumnRenamed("c", "_ca")
        bb = pb.withColumnRenamed("c", "_cb")
        j = a.join(bb, keycol, "full_outer").select(
            F.coalesce(F.col("_ca"), F.lit(0)).alias("_ca"),
            F.coalesce(F.col("_cb"), F.lit(0)).alias("_cb"),
        )
        na = j.agg(F.sum("_ca").alias("_na"), F.sum("_cb").alias("_nb"))
        j = j.crossJoin(F.broadcast(na))
        p = (F.col("_ca") + 1) / (F.col("_na") + support).cast("double")
        q = (F.col("_cb") + 1) / (F.col("_nb") + support).cast("double")
        return j.agg(F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"))

    n_langs = (
        lang_base.select("lang")
        .unionByName(lang_batch.select("lang"))
        .distinct()
        .count()
    )
    hist_psi = _psi_from(hist_base, hist_batch, "bin", F.lit(n_bins))
    lang_psi = _psi_from(lang_base, lang_batch, "lang", F.lit(n_langs))
    counts = lang_base.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_base")
    ).crossJoin(
        F.broadcast(
            lang_batch.agg(
                F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_batch")
            )
        )
    )
    return (
        counts.crossJoin(F.broadcast(hist_psi.withColumnRenamed("psi", "psi_length")))
        .crossJoin(F.broadcast(lang_psi.withColumnRenamed("psi", "psi_lang")))
        .select(
            "n_base",
            "n_batch",
            "psi_length",
            "psi_lang",
            (
                (F.col("psi_length") > 0.2) | (F.col("psi_lang") > 0.2)
            ).alias("drift_flag"),
        )
    )


def drift_psi(
    base: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    n_bins: int = 256,
    bin_width: int = 8,
) -> DataFrame:
    """One row of POPULATION STABILITY INDEX drift between a reference
    corpus and an ingest batch — the production monitoring number that
    pages an operator when the crawl changes shape (split_drift_ks
    answers "are these the same distribution?" statistically; PSI is
    the industry drift MAGNITUDE with conventional thresholds: <0.1
    stable, 0.1-0.2 watch, >0.2 act — drift_flag pins the 0.2 line).

    Two PSI columns from two cheap marginals: psi_length over the
    equi-width length histogram (the quantile_hist_merge binning, so
    at 100 TB both sides are the per-day histograms the dashboard
    already maintains — drift monitoring costs two stored-histogram
    reads, no corpus scan), and psi_lang over the language mix (a
    |langs|-row count table). Laplace smoothing ((c+1)/(n+K), K =
    support size — the full bin range for lengths, the union language
    set for langs) keeps every term finite and both engines on the
    same arithmetic; PSI = Σ (p−q)·ln(p/q), rounded to 6, summed over
    the UNION of occupied bins (a bin empty on both sides contributes
    nothing by construction — the full-outer join never produces it;
    the oracle mirrors the same support).

    NULL-text docs are excluded from the length histogram (no
    length) but keep their language row — mirrored in the oracle.

    Factored through psi_from_marginals over psi_length_hist /
    psi_lang_marginal so the streaming drift face (streaming/drift.py)
    runs the IDENTICAL composition over its stored partial folds."""
    return psi_from_marginals(
        psi_length_hist(base, text_col, n_bins, bin_width),
        psi_length_hist(batch, text_col, n_bins, bin_width),
        psi_lang_marginal(base),
        psi_lang_marginal(batch),
        n_bins=n_bins,
    )


def hll_overlap_sources(
    df: DataFrame,
    value_col: str = "text",
    group_col: str = "source",
    p: int = 8,
) -> DataFrame:
    """(src_a, src_b, est_a, est_b, est_union, est_intersect,
    n_exact_intersect, within_bound): pairwise corpus-overlap estimates
    between sources by HLL SET ALGEBRA — union by per-register max
    merge, intersection by inclusion-exclusion (|A∩B| ≈ Â + B̂ − Â∪B,
    clamped at 0). The question this answers at 100 TB — "how much of
    source A is already inside source B?" (mirror detection, crawl-
    snapshot overlap, dataset-provenance audits) — needs only the m-
    register sketches each source already maintains for its distinct
    count: the pairwise stage is sketch-sized (|S|²·m rows), corpus-
    independent, where the exact answer is a full distinct self-join
    of the corpus. The exact intersection IS computed here as the QA
    baseline column (the hll_merge_sources n_exact pattern — fixture-
    affordable, dropped at deployment scale), with within_bound
    pinning |est − exact| ≤ 0.2·(Â + B̂ + Â∪B), generous vs the
    ~3·1.04/√m per-estimate error the inclusion-exclusion sums.

    Same deterministic construction as hll_merge_sources (Flajolet et
    al. 2007 registers off the 60-bit md5 prefix, harmonic-mean
    estimator + linear-counting correction in portable arithmetic),
    DENSIFIED (explode of a 0..m-1 sequence per source, absent
    registers rho=0) so the pairwise merge is a plain m-key equi-join
    with no per-pair outer-join bookkeeping."""
    m = 1 << p
    wbits = 60 - p
    base = (
        df.where(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            F.conv(F.substring(F.md5(F.col(value_col)), 1, 15), 16, 10)
            .cast("bigint")
            .alias("_h"),
        )
        .select(
            "grp",
            F.pmod(F.col("_h"), F.lit(m)).cast("int").alias("reg"),
            F.expr(f"_h div {m}").alias("_w"),
        )
        .select(
            "grp",
            "reg",
            F.when(F.col("_w") == 0, F.lit(wbits + 1))
            .otherwise(F.lit(wbits + 1) - F.length(F.bin("_w")))
            .cast("int")
            .alias("rho"),
        )
    )
    per_src = base.groupBy("grp", "reg").agg(F.max("rho").alias("rho"))
    dense = (
        base.select("grp")
        .distinct()
        .select(
            "grp", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("reg")
        )
        .join(per_src, ["grp", "reg"], "left")
        .select("grp", "reg", F.coalesce(F.col("rho"), F.lit(0)).alias("rho"))
    )

    def _est(regs: DataFrame, keys: list[str], name: str) -> DataFrame:
        agg = regs.groupBy(*keys).agg(
            F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("_s"),
            F.sum(F.when(F.col("rho") == 0, 1).otherwise(0))
            .cast("double")
            .alias("_z"),
        )
        raw = F.lit(0.7213 / (1 + 1.079 / m)) * m * m / F.col("_s")
        est = F.when(
            (raw <= 2.5 * m) & (F.col("_z") > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("_z")),
        ).otherwise(raw)
        return agg.select(*keys, F.round(est, 6).alias(name))

    a = dense.withColumnsRenamed({"grp": "src_a", "rho": "rho_a"})
    b = dense.withColumnsRenamed({"grp": "src_b", "rho": "rho_b"})
    pair_regs = (
        a.join(b, "reg")
        .where(F.col("src_a") < F.col("src_b"))
        .select("src_a", "src_b", "reg", F.greatest("rho_a", "rho_b").alias("rho"))
    )
    eu = _est(pair_regs, ["src_a", "src_b"], "est_union")
    ea = _est(dense, ["grp"], "est_a").withColumnRenamed("grp", "src_a")
    eb = _est(dense, ["grp"], "est_b").withColumnRenamed("grp", "src_b")
    dt = (
        df.where(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            F.sha2(F.col(value_col), 256).alias("_th"),
        )
        .distinct()
    )
    ex = (
        dt.withColumnsRenamed({"grp": "src_a"})
        .join(dt.withColumnsRenamed({"grp": "src_b"}), "_th")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("_nx"))
    )
    est_int = F.round(
        F.greatest(
            F.lit(0.0), F.col("est_a") + F.col("est_b") - F.col("est_union")
        ),
        6,
    )
    return (
        eu.join(F.broadcast(ea), "src_a")
        .join(F.broadcast(eb), "src_b")
        .join(ex, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "est_a",
            "est_b",
            "est_union",
            est_int.alias("est_intersect"),
            F.coalesce(F.col("_nx"), F.lit(0)).cast("long").alias("n_exact_intersect"),
            (
                F.abs(est_int - F.coalesce(F.col("_nx"), F.lit(0)))
                <= F.lit(0.2)
                * (F.col("est_a") + F.col("est_b") + F.col("est_union"))
            ).alias("within_bound"),
        )
    )
