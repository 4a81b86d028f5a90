"""Deduplication operators (SURVEY.md section 7.4; training-data
pipeline surface): exact, word-n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:
- exact dedup is one hash-agg shuffle on sha256(text) — scales linearly;
- exact pairwise Jaccard is quadratic and exists as the small-scale /
  verification path; the scale path is MinHash LSH: per-doc signature
  (narrow), band -> bucket grouping (shuffle on band hash, bucket sizes
  bounded by banding), candidate pairs only within buckets, exact
  verify on the candidates. This is the standard shingle->minhash->
  band->bucket-join pipeline, all in native Column expressions;
- SimHash gives a 16-bit per-doc sketch; near-dup = hamming<=k within
  identical-prefix buckets at scale (here: direct pair filter).

Hash parity note: MinHash uses md5 hex strings ordered
lexicographically (min over a uniform 128-bit hash — seed-prefixed);
SimHash/fingerprint use the polynomial code-point hash from textstats.
Both are reproducible bit-for-bit in DuckDB for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.operators.maintenance import keyed_takedown
from calculate_file_content_size_for_vector_db_spark.session import cached
from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
    token_hash,
    tokens,
)

MINHASH_FUNCS = 8
MINHASH_BANDS = 4  # rows per band = MINHASH_FUNCS / MINHASH_BANDS = 2
SIMHASH_BITS = 16
NGRAM = 3

# Production defaults for the candidate-generation guards. Uncapped
# (None) keeps exact LSH / exact-Jaccard semantics, but a low-entropy
# corpus (boilerplate shingles, collapsed signatures) makes candidate
# generation quadratic in the hub-bucket size — at 100 TB a single
# 1M-doc band bucket is ~10^12 candidate rows. The registered *_capped
# queries use these values and mirror them in their DuckDB oracles, so
# the bounded form is itself hash-verified, not just the exact form.
PROD_MAX_BUCKET_SIZE = 16
PROD_MAX_SHINGLE_FREQ = 128
# Scale-deployment SimHash width: the token hash carries ~30 usable
# bits; 28 gives 2^7 = 128 buckets per pigeonhole segment (k=3), vs 16
# buckets at the 16-bit fixture default — the registered
# simhash_pairs_wide query runs this width (+ the bucket cap) and
# mirrors both in its oracle.
SIMHASH_BITS_SCALE = 28


def shingles(col: Column | str, n: int = NGRAM) -> Column:
    """Distinct word n-gram shingles (space-joined)."""
    toks = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k + 1) for k in range(n)]),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def exact_dedup(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """Exact dedup: group by sha256(text); keeper = min key; dup_count
    per group. One hash-agg shuffle, linear at any scale."""
    hashed = df.select(F.col(key), F.sha2(F.col(text_col), 256).alias("content_hash"))
    return hashed.groupBy("content_hash").agg(
        F.min(key).alias("keeper_id"),
        F.count("*").cast("long").alias("dup_count"),
    )


def shingle_table(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """(key, shingle) exploded distinct shingles — the join key for
    candidate generation. Input is spread across cores first: shingling
    is compute-bound and fixture tables arrive as one split."""
    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    return spread(df).select(F.col(key), F.explode(shingles(text_col)).alias("shingle"))


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    key: str = "doc_id",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (a < b, jaccard >=
    threshold).

    Candidate generation by shingle equi-join (linear in co-occurring
    pairs, NOT a cross join), then |A ∩ B| = join count, |A ∪ B| =
    |A| + |B| - |A ∩ B|. The threshold > 0 guarantees parity with a
    naive all-pairs oracle: pairs sharing zero shingles can't pass.

    ``max_shingle_freq``: a single boilerplate shingle shared by 1M
    docs fans the self-join out to ~10^12 candidate rows. Setting a cap
    drops shingles occurring in more than that many docs from the JOIN
    side only — candidate fanout per shingle is bounded by cap^2, while
    per-doc sizes |A|, |B| keep every shingle, so jaccard is never
    OVERcounted. Recall tradeoff mirrors ``max_bucket_size`` in
    minhash_lsh_pairs: a pair whose entire overlap is hub shingles can
    be missed (hub shingles carry near-zero signal anyway, same
    rationale as df-based stopword pruning). None (default) = exact.

    The shingle table feeds three plan branches (both join sides and
    the size agg); persist it so tokenize+shingle runs once, not three
    times (Spark does not dedupe common subplans).
    """
    sh = cached(shingle_table(df, text_col, key))
    sizes = sh.groupBy(key).agg(F.count("*").alias("n_shingles"))
    joinable = sh
    if max_shingle_freq is not None:
        # window count over the shingle key — one extra shuffle on the
        # same key the join shuffles on, so AQE reuses the partitioning;
        # a groupBy+join form would re-evaluate the shingle pipeline
        from pyspark.sql import Window

        w = Window.partitionBy("shingle")
        joinable = (
            sh.withColumn("_sf", F.count("*").over(w))
            .where(F.col("_sf") <= max_shingle_freq)
            .drop("_sf")
        )
    a = joinable.alias("a")
    b = joinable.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col(f"a.{key}") < F.col(f"b.{key}"))
        .groupBy(F.col(f"a.{key}").alias("a_id"), F.col(f"b.{key}").alias("b_id"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({key: "a_id", "n_shingles": "n_a"}), "a_id")
        .join(sizes.withColumnsRenamed({key: "b_id", "n_shingles": "n_b"}), "b_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def _signature_from_rows(
    sh_rows: DataFrame, n_hashes: int = MINHASH_FUNCS, key: str = "doc_id"
) -> DataFrame:
    """MinHash signatures from an exploded (key, shingle) table — the
    shared agg of minhash_signature and bands_from_shingle_sets."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))).alias(f"h{s}")
        for s in range(n_hashes)
    ]
    return (
        sh_rows.groupBy(key)
        .agg(*aggs)
        .select(key, F.array(*[f"h{s}" for s in range(n_hashes)]).alias("signature"))
    )


def minhash_signature(
    df: DataFrame,
    n_hashes: int = MINHASH_FUNCS,
    text_col: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Per-doc MinHash signature: sig[s] = min over shingles of
    md5('<s>|' + shingle). Docs with no shingles are excluded.

    Plan shape: explode shingles once, then ONE hash-agg computing all
    n mins (map-side partial min keeps the shuffle tiny). The naive
    alternative — array_min(transform(shingles, ...)) per seed —
    re-evaluates the whole tokenize+shingle expression once per seed
    (projection collapsing inlines it), an n_hashes-fold recompute.
    """
    return _signature_from_rows(shingle_table(df, text_col, key), n_hashes, key)


def bands_from_shingle_sets(
    sets_df: DataFrame,
    n_bands: int = MINHASH_BANDS,
    n_hashes: int = MINHASH_FUNCS,
    key: str = "doc_id",
) -> DataFrame:
    """(key, band, band_hash) derived from an EXISTING shingle-set
    table (a persisted frame or the parquet shingle store) instead of
    re-shingling the documents — for callers that materialize BOTH
    artifacts (guide §2.4: the band build re-ran the whole
    tokenize+shingle lineage the shingle table already paid for).

    Bit-identical to minhash_bands(minhash_signature(docs)):
    explode(sh) reproduces shingle_table exactly (shingles() is
    array_distinct, so the set rows ARE the table rows), and the
    signature's min-agg is duplicate- and order-insensitive."""
    rows = sets_df.select(F.col(key), F.explode("sh").alias("shingle"))
    return minhash_bands(_signature_from_rows(rows, n_hashes, key), n_bands, n_hashes, key)


def minhash_bands(
    signatures: DataFrame,
    n_bands: int = MINHASH_BANDS,
    n_hashes: int = MINHASH_FUNCS,
    key: str = "doc_id",
) -> DataFrame:
    """(key, band, band_hash): hash each signature band to a bucket."""
    rows_per_band = n_hashes // n_bands
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.md5(
            F.concat_ws(
                "|",
                *[
                    F.element_at(F.col("signature"), (b * rows_per_band + r + 1).cast("int"))
                    for r in range(rows_per_band)
                ],
            )
        ),
    )
    return signatures.select(
        key, F.posexplode(bands).alias("band", "band_hash")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    key: str = "doc_id",
    max_bucket_size: int | None = None,
    bands_df: DataFrame | None = None,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: band-bucket candidates, exact-Jaccard
    verified (>= threshold). The 100 TB path: the only shuffles are the
    band-hash grouping and the bounded candidate verify.

    ``max_bucket_size``: low-entropy corpora can put thousands of docs
    into one band bucket, making candidate generation quadratic again
    (a 200k-doc synthetic word-soup corpus produces ~250M intra-bucket
    pairs). Setting a cap DROPS oversized buckets — bounded work, with
    a recall tradeoff: members of a dropped bucket can still pair via
    their other bands. None (default) keeps exact LSH semantics.

    ``bands_df`` / ``shingles_df``: optional PRECOMPUTED artifacts for
    ``df`` (minhash_bands(minhash_signature(df)) and shingle_sets(df)
    respectively) — callers that already derived them for a store
    rewrite (the streaming upsert face) pass them so the signature
    pipeline is not recomputed; None derives them here. A passed
    artifact is used as given: caching it is its owner's call.

    The band table self-joins (both candidate sides) and the shingle
    table feeds both verify sides; the tables derived here are cached
    so the signature pipeline runs once. On the from-text path the
    band table DERIVES from the cached shingle sets (r16,
    bands_from_shingle_sets — bit-identical), so the input text is
    tokenized+shingled exactly once instead of once per artifact
    (guide §2.4; interleaved A/B on the same rewrite in
    dedup_incremental measured ×1.2)."""
    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    sh = shingles_df
    if sh is None:
        sh = cached(spread(df).select(F.col(key), shingles(text_col).alias("sh")))
    bands = bands_df
    if bands is None:
        bands = cached(bands_from_shingle_sets(sh, key=key))
    if max_bucket_size is not None:
        # window count, not a groupBy+self-join — the join form would
        # evaluate the whole signature pipeline twice
        from pyspark.sql import Window

        w = Window.partitionBy("band", "band_hash")
        bands = (
            bands.withColumn("_bn", F.count("*").over(w))
            .where(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(b, ["band", "band_hash"])
        .where(F.col(f"a.{key}") < F.col(f"b.{key}"))
        .select(F.col(f"a.{key}").alias("a_id"), F.col(f"b.{key}").alias("b_id"))
        .distinct()
    )
    return (
        candidates.join(sh.withColumnsRenamed({key: "a_id", "sh": "sh_a"}), "a_id")
        .join(sh.withColumnsRenamed({key: "b_id", "sh": "sh_b"}), "b_id")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash sketch over whitespace tokens: bit b is set when tokens
    whose polynomial hash has bit b outnumber those that don't.

    ``bits`` sizes the sketch (default 16 for fixture parity; the token
    hash carries ~30 usable bits, so scale deployments should run 28+ —
    segment-bucket candidate generation in simhash_pairs gets
    2^(bits/(k+1)) buckets per segment, and 16-bit sketches cap that at
    16 buckets, quadratic-ish beyond ~10k docs).

    Plan shape: explode tokens, hash each token ONCE, then one hash-agg
    with ``bits`` conditional sums (map-side partial). The
    array-expression alternative re-evaluates every token hash once per
    bit. Zero-token docs are preserved via a left join (simhash 0).
    """
    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    df = spread(df)
    tok = df.select(F.col(key), F.explode(tokens(text_col)).alias("tok"))
    hashed = tok.select(key, token_hash(F.col("tok")).alias("h"))
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(1)).alias(f"b{b}")
        for b in range(bits)
    ]
    bit_counts = hashed.groupBy(key).agg(*aggs)
    value = F.lit(0).cast("bigint")
    for b in range(bits):
        value = value + F.when(
            F.col(f"b{b}") * 2 > F.col("n"), F.lit(1 << b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    sims = bit_counts.select(key, value.alias("simhash"))
    return (
        df.select(key)
        .join(sims, key, "left")
        .select(key, F.coalesce("simhash", F.lit(0).cast("bigint")).alias("simhash"))
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    key: str = "doc_id",
    bits: int = SIMHASH_BITS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance (<= max_hamming).

    Exact, but NOT all-pairs: the ``bits``-wide sketch is split into
    ``max_hamming + 1`` segments. By pigeonhole, any pair within
    hamming distance k must agree exactly on at least one of the k+1
    segments, so candidates come from an equi-join on
    (segment_index, segment_value) — a bucketed shuffle join with
    bucket sizes ~N / 2^(bits/(k+1)) per segment, no quadratic stage.
    Candidates are then verified with the exact bit_count and
    deduplicated (a pair can agree on several segments). Size ``bits``
    so 2^(bits/(k+1)) comfortably exceeds the corpus' near-dup cluster
    count (16-bit default suits fixtures; use 28+ at scale).
    """
    n_segments = max_hamming + 1
    seg_bits = bits // n_segments  # 16 // 4 = 4 for k = 3
    s = simhash(df, text_col, key, bits)
    seg_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), i * seg_bits)
            .bitwiseAND((1 << seg_bits) - 1)
            .cast("int")
            for i in range(n_segments)
        ]
    )
    segs = s.select(key, "simhash", F.posexplode(seg_vals).alias("seg", "seg_val"))
    if max_bucket_size is not None:
        # same guard as minhash_lsh_pairs: low-entropy corpora collapse
        # sketches, making one segment bucket quadratic; dropping
        # oversized buckets bounds the work (recall tradeoff — a pair in
        # a dropped bucket can still meet via its other segments)
        from pyspark.sql import Window

        w = Window.partitionBy("seg", "seg_val")
        segs = (
            segs.withColumn("_bn", F.count("*").over(w))
            .where(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    a, b = segs.alias("a"), segs.alias("b")
    return (
        a.join(b, ["seg", "seg_val"])
        .where(F.col(f"a.{key}") < F.col(f"b.{key}"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int"),
        )
        .where(F.col("hamming") <= max_hamming)
        .select(
            F.col(f"a.{key}").alias("a_id"),
            F.col(f"b.{key}").alias("b_id"),
            "hamming",
        )
        .distinct()
    )


def shingle_sets(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """(key, sh): per-doc distinct shingle ARRAY — the verify-side table
    (shingle_table is the exploded join-side form). At scale this is
    stored next to the corpus band table so incremental batches never
    re-shingle old documents."""
    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    return spread(df).select(F.col(key), shingles(text_col).alias("sh"))


def incremental_neardup_pairs(
    batch: DataFrame,
    corpus_bands: DataFrame,
    corpus_shingles: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    key: str = "doc_id",
    max_bucket_size: int | None = None,
    batch_bands: DataFrame | None = None,
    batch_shingles: DataFrame | None = None,
) -> DataFrame:
    """(new_id, corpus_id, jaccard): which documents of a NEW batch
    near-duplicate an EXISTING corpus document — the operation a
    100-TB training pipeline actually runs daily, where re-running
    all-pairs LSH over corpus+batch would recompute signatures for the
    ~10^9 old documents every day.

    Inputs are the corpus's PRE-BUILT artifacts: ``corpus_bands``
    (key, band, band_hash — the stored LSH bucket table) and
    ``corpus_shingles`` (key, sh — the stored verify-side sets, see
    shingle_sets). Only the batch pays the shingle->minhash->band cost;
    the corpus side is two scans of stored tables. Candidate
    generation is an equi-join of the batch's band hashes against the
    bucket table (AQE broadcasts the batch side when it is small — no
    forced hint, a backfill "batch" can be huge); the exact-Jaccard
    verify touches only candidate rows of ``corpus_shingles``.

    ``max_bucket_size`` guards the corpus side exactly as in
    minhash_lsh_pairs: hub buckets (boilerplate) are dropped whole
    before the join, bounding per-bucket fanout.

    ``batch_bands`` / ``batch_shingles``: optional PRECOMPUTED batch
    artifacts (same contract as minhash_lsh_pairs' hook) — callers
    that already derived them for a store rewrite pass them so the
    batch signature pipeline runs once per trigger, not once per leg.
    """
    bb = (
        batch_bands
        if batch_bands is not None
        else minhash_bands(minhash_signature(batch, text_col=text_col, key=key), key=key)
    ).withColumnRenamed(key, "new_id")
    cb = corpus_bands.withColumnRenamed(key, "corpus_id")
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "band_hash")
        cb = (
            cb.withColumn("_bn", F.count("*").over(w))
            .where(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    candidates = (
        bb.join(cb, ["band", "band_hash"]).select("new_id", "corpus_id").distinct()
    )
    sh_new = (
        batch_shingles if batch_shingles is not None else shingle_sets(batch, text_col, key)
    ).withColumnsRenamed({key: "new_id", "sh": "sh_new"})
    sh_old = corpus_shingles.withColumnsRenamed({key: "corpus_id", "sh": "sh_old"})
    return (
        candidates.join(sh_new, "new_id")
        .join(sh_old, "corpus_id")
        .withColumn("inter", F.size(F.array_intersect("sh_new", "sh_old")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("sh_new") + F.size("sh_old") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


def incremental_survivors(
    batch: DataFrame, pairs: DataFrame, key: str = "doc_id"
) -> DataFrame:
    """(key): the batch documents admitted into the corpus — everything
    that did not near-dup an existing document (left-anti on the
    incremental pair table)."""
    return batch.select(key).join(
        pairs.select(F.col("new_id").alias(key)), key, "left_anti"
    )


BLOOM_BITS = 1 << 18  # fixture default; 2^30+ at 100 TB (128 MiB packed)
BLOOM_HASHES = 5


def _bloom_hashes(hash_hex: Column) -> tuple[Column, Column]:
    """Two independent 60-bit integers from an md5 hex string (first
    and second 15 hex digits) — the (h1, h2) pair for Kirsch-
    Mitzenmacher double hashing. 15 hex digits = 60 bits, safely inside
    a signed bigint; h1 + j*h2 for j <= ~7 cannot overflow."""
    h1 = F.conv(F.substring(hash_hex, 1, 15), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(hash_hex, 16, 15), 16, 10).cast("bigint")
    return h1, h2


def _bloom_positions(hash_hex: Column, m_bits: int, n_hashes: int) -> Column:
    """Array of ``n_hashes`` bit positions in [0, m_bits): the standard
    g_j = (h1 + j*h2) mod m double-hashing scheme (Kirsch &
    Mitzenmacher 2006 — j independent-quality probes from 2 hashes)."""
    h1, h2 = _bloom_hashes(hash_hex)
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda j: F.pmod(h1 + j.cast("bigint") * h2, F.lit(m_bits)),
    )


def bloom_bitmap(
    df: DataFrame,
    hash_hex_col: str = "band_hash",
    m_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """(word_id, word): a Bloom filter over an md5-hex hash column,
    packed into 32-bit words — at most m_bits/32 rows regardless of
    input size, so the filter over a 10^9-row stored band table is a
    bounded, broadcastable artifact (2^30 bits = 128 MiB).

    This is the classic distributed Bloom-join build side: one explode
    (n_hashes rows per input row) plus one hash-agg (bit_or per word),
    both linear with map-side partial aggregation. The word packing is
    lossless, so the DuckDB oracle can verify membership against the
    unpacked DISTINCT position set instead.

    Masks use pow(2, bit): exact in a double for bit <= 31, which the
    32-bit word width guarantees (PySpark's shiftleft takes only a
    literal shift amount, not a per-row column)."""
    p = F.explode(_bloom_positions(F.col(hash_hex_col), m_bits, n_hashes)).alias("p")
    return (
        df.select(p)
        .select(
            F.shiftright(F.col("p"), 5).alias("word_id"),
            F.pow(F.lit(2.0), F.pmod(F.col("p"), F.lit(32))).cast("bigint").alias("mask"),
        )
        .groupBy("word_id")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_bitmap_union(stored: DataFrame, delta: DataFrame) -> DataFrame:
    """(word_id, word): a delta bitmap unioned into a stored bitmap —
    ONE full-outer equi-join on word_id + a bitwise OR of the packed
    words. This is the incremental-maintenance half of the Bloom
    pre-gate (the sim_ivf_append contract applied to the bitmap):
    admitting a batch unions its word rows in instead of rebuilding
    over the whole band store.

    bit_or is idempotent, commutative, and associative, so
    re-admitting a batch (checkpoint replay), unioning deltas in any
    order, or unioning a delta already contained in the store all
    yield exactly the from-scratch bitmap — the equality the
    dedup_bloom_append oracle hash-pins. Cost is bounded by
    construction: both sides are at most m_bits/32 rows at ANY corpus
    size, so the union is metadata-scale work."""
    s = stored.select("word_id", F.col("word").alias("_ws"))
    d = delta.select("word_id", F.col("word").alias("_wd"))
    zero = F.lit(0).cast("bigint")
    return s.join(d, "word_id", "full_outer").select(
        "word_id",
        F.coalesce("_ws", zero).bitwiseOR(F.coalesce("_wd", zero)).alias("word"),
    )


def bloom_probe(
    df: DataFrame,
    bitmap: DataFrame,
    hash_hex_col: str = "band_hash",
    group_cols: list[str] | None = None,
    m_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """(group_cols..., maybe_member): Bloom membership verdict — true
    iff ANY of the group's hash rows has ALL ``n_hashes`` bit positions
    set in ``bitmap``. No false negatives (a hash that was inserted
    always probes all-set); false positives at the filter's documented
    rate, which the downstream exact join resolves.

    The bitmap side is broadcast by construction: it is bounded at
    m_bits/32 rows whatever the corpus size, which is the whole point
    of the structure — probing costs one explode plus a broadcast
    equi-join on word_id, never a shuffle of the corpus."""
    if group_cols is None:
        group_cols = ["doc_id"]
    probes = df.select(
        *group_cols,
        F.col(hash_hex_col).alias("_h"),
        F.explode(_bloom_positions(F.col(hash_hex_col), m_bits, n_hashes)).alias("p"),
    ).select(
        *group_cols,
        "_h",
        F.shiftright(F.col("p"), 5).alias("word_id"),
        F.pow(F.lit(2.0), F.pmod(F.col("p"), F.lit(32))).cast("bigint").alias("mask"),
    )
    hit = (
        F.coalesce(F.col("word"), F.lit(0).cast("bigint")).bitwiseAND(F.col("mask")) != 0
    )
    per_row = (
        probes.join(F.broadcast(bitmap), "word_id", "left")
        .groupBy(*group_cols, "_h")
        .agg(F.min(F.when(hit, 1).otherwise(0)).alias("_all_hit"))
    )
    return per_row.groupBy(*group_cols).agg(
        (F.max("_all_hit") == 1).alias("maybe_member")
    )


def bloom_neardup_prefilter(
    batch: DataFrame,
    corpus_bands: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    m_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
    batch_bands: DataFrame | None = None,
) -> DataFrame:
    """(key, maybe_neardup): the Bloom pre-gate in front of
    incremental_neardup_pairs — a fresh batch doc can only near-dup the
    stored corpus if at least one of its LSH band hashes collides with
    a stored band hash, and that collision test runs against a bounded
    128-MiB-class bitmap instead of the 10^9-row band table itself.

    A daily 100-TB-pipeline ingest probes the bitmap first (broadcast
    join, no corpus shuffle) and sends only maybe_neardup=true docs —
    typically a small fraction — into the band equi-join. No false
    negatives: every admitted-as-unique doc provably shares no band
    hash with the corpus, the same guarantee the full band join gives.
    Docs with no shingles at all produce no bands and return
    maybe_neardup=false, matching the band join (no candidates).

    ``batch_bands``: optional PRECOMPUTED batch band table (the
    incremental_neardup_pairs hook contract) — callers that already
    derived it for the pair join / a store append pass it so the batch
    signature pipeline is not recomputed per gate; None derives it here.
    """
    bitmap = bloom_bitmap(corpus_bands, "band_hash", m_bits, n_hashes)
    if batch_bands is None:
        batch_bands = minhash_bands(
            minhash_signature(batch, text_col=text_col, key=key), key=key
        )
    verdicts = bloom_probe(
        batch_bands, bitmap, "band_hash", [key], m_bits, n_hashes
    )
    return batch.select(key).join(verdicts, key, "left").select(
        key, F.coalesce(F.col("maybe_member"), F.lit(False)).alias("maybe_neardup")
    )


def span_dedup_rewrite(
    df: DataFrame, n: int = 5, text_col: str = "text", key: str = "doc_id"
) -> DataFrame:
    """(key, clean_text, n_tokens_kept, n_tokens_removed): exact
    substring deduplication with document REWRITE — the curation step
    from "Deduplicating Training Data Makes Language Models Better"
    (Lee et al., 2022), here at n-token granularity: every n-token
    span occurring in more than one distinct document keeps its FIRST
    occurrence (smallest ``key``) and is deleted from every other
    document; the surviving tokens are re-joined in order. Contrast
    the sibling duplicated_spans query, which only DETECTS the spans.

    Plan shape (all linear, no pairwise stage): one explode to
    (doc, i, span_hash), a hash-agg finding duplicated spans + their
    keeper, covered positions via an n-wide sequence explode on the
    non-keeper span hits collected to one array row per doc, and the
    rewrite itself as a higher-order filter over each doc's own token
    array. Shuffles are keyed on span_hash or ``key`` and carry only
    span/position metadata — document tokens never shuffle.
    """
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import tokens
    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    docs = spread(df)
    toks = tokens(text_col)
    spans_arr = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.md5(
            F.concat_ws(" ", *[F.element_at(toks, i + k + 1) for k in range(n)])
        ),
    )
    span_t = docs.where(F.size(toks) >= n).select(
        F.col(key), F.posexplode(spans_arr).alias("i", "span_hash")
    )
    dup = (
        span_t.groupBy("span_hash")
        .agg(
            F.countDistinct(key).alias("_nd"),
            F.min(key).alias("keeper"),
        )
        .where(F.col("_nd") >= 2)
        .select("span_hash", "keeper")
    )
    # covered positions per doc as ONE array row (collect_set dedupes,
    # so the standalone .distinct() exchange is gone), then the rewrite
    # is a higher-order filter over the doc's own token array — the
    # pre-r15 shape anti-joined the exploded (key, pos) token table and
    # re-assembled it with array_sort(collect_list(...)), pushing every
    # corpus token through TWO more exchanges (guide §2.3: shuffle keys
    # and metadata, not payloads; only covered (key, pos) pairs shuffle
    # here). Values are unchanged: filter preserves array order, so the
    # kept tokens re-join in the same pos order the sort produced, and
    # the NULL-text row keeps ("", 0, NULL) via the same coalesces.
    cov_arr = (
        span_t.join(dup, "span_hash")
        .where(F.col(key) != F.col("keeper"))
        .select(
            F.col(key),
            F.explode(F.sequence(F.col("i"), F.col("i") + n - 1)).alias("pos"),
        )
        .groupBy(key)
        .agg(F.collect_set("pos").alias("_cov"))
    )
    kept_arr = F.when(
        F.col("_cov").isNull(), toks
    ).otherwise(F.filter(toks, lambda t, i: ~F.array_contains(F.col("_cov"), i)))
    return (
        docs.join(cov_arr, key, "left")
        .select(
            F.col(key),
            F.size(toks).cast("long").alias("_n_tokens"),
            F.concat_ws(" ", kept_arr).alias("clean_text"),
            F.size(kept_arr).alias("_kept"),
        )
        .select(
            key,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce(
                F.when(F.col("_kept") >= 0, F.col("_kept")), F.lit(0)
            ).cast("long").alias("n_tokens_kept"),
            (
                F.col("_n_tokens")
                - F.coalesce(F.when(F.col("_kept") >= 0, F.col("_kept")), F.lit(0))
            )
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )


def line_dedup_rewrite(
    df: DataFrame, text_col: str = "text", key: str = "doc_id"
) -> DataFrame:
    """(key, clean_text, n_lines_kept, n_lines_removed): WITHIN-document
    duplicate-line removal — every repeated non-empty line keeps its
    FIRST occurrence and later copies are dropped; empty lines are
    preserved (they are paragraph structure, not content). The CCNet /
    C4-style cleanup that strips navigation chrome, repeated headers
    and boilerplate lists inside a single page, complementing
    span_dedup_rewrite's ACROSS-document span removal.

    Plan: one posexplode on newline, one (key, line) window marking
    first occurrences, one ordered per-key re-assembly — all keyed on
    the document id, linear at any corpus size, no cross-document
    stage at all. NULL text keeps its row with NULL clean_text.
    """
    lines = F.split(F.col(text_col), "\n")
    lt = df.select(F.col(key), F.posexplode(lines).alias("pos", "line"))
    w = Window.partitionBy(key, "line").orderBy("pos")
    kept = (
        lt.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) | (F.col("line") == ""))
        .drop("_rn")
    )
    rebuilt = kept.groupBy(key).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_lines_kept"),
    )
    total = df.select(
        F.col(key), F.size(lines).cast("long").alias("_n_lines"), F.col(text_col)
    )
    return total.join(rebuilt, key, "left").select(
        key,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.coalesce("clean_text", F.lit("")))
        .alias("clean_text"),
        F.coalesce("n_lines_kept", F.lit(0)).cast("long").alias("n_lines_kept"),
        F.when(
            F.col(text_col).isNull(), F.lit(0)
        )
        .otherwise(F.col("_n_lines") - F.coalesce("n_lines_kept", F.lit(0)))
        .cast("long")
        .alias("n_lines_removed"),
    )


def _both(a: Column, b: Column) -> Column:
    """Two rows out of every input row: inline(array(a, b))."""
    return F.inline(F.array(a, b))


def _large_star(e: DataFrame) -> DataFrame:
    """Every node links its LARGER neighbors to the minimum of its
    closed neighborhood."""
    sym = e.select(
        _both(F.struct("u", "v"), F.struct(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    m = F.least("u", F.min("v").over(Window.partitionBy("u")))
    return (
        sym.withColumn("m", m)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Edges orient toward the smaller endpoint; every node links its
    smaller neighbors and itself to the minimum of those neighbors."""
    d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    m = F.min("v").over(Window.partitionBy("u"))
    # the closing .distinct() is load-bearing: the star-forest test
    # counts parents per child, so a duplicated (child, root) row would
    # read as two parents and the loop would never stop
    return (
        d.withColumn("m", m)
        .select(
            _both(
                F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                F.struct("u", F.col("m").alias("v")),
            )
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_input(edges: DataFrame) -> DataFrame:
    """(u, v) rows of ``edges`` without self-loops, localCheckpointed
    lazily so the edge lineage runs once, inside the first round."""
    return (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .localCheckpoint(eager=False)
    )


def _star_round(e: DataFrame):
    """One large-star + small-star alternation and its convergence
    aggregate: (child -> parent edges, Row(n=node count, bad=nodes
    that break the star-forest shape)). The edges are localCheckpointed
    lazily and the aggregate, the round's first action, materializes
    them."""
    out = _small_star(_large_star(e)).localCheckpoint(eager=False)
    # per node: c = its parent count, p = whether it is a parent
    per = (
        out.select(
            _both(
                F.struct(F.col("u").alias("x"), F.lit(1).alias("c"), F.lit(False).alias("p")),
                F.struct(F.col("v").alias("x"), F.lit(0).alias("c"), F.lit(True).alias("p")),
            )
        )
        .groupBy("x")
        .agg(F.sum("c").alias("c"), F.max("p").alias("p"))
    )
    bad = (F.col("c") > 1) | ((F.col("c") > 0) & F.col("p"))
    stats = per.agg(
        F.count("*").alias("n"), F.count(F.when(bad, 1)).alias("bad")
    ).first()
    return out, stats


def star_components(edges: DataFrame) -> DataFrame:
    """(node, cluster_id): connected components by alternating
    large-star / small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) — O(log^2 n)
    rounds on ANY graph structure, where min-label propagation is
    O(diameter) and its pointer-jumping variant loses the doubling
    guarantee under adversarial id placement (the min id of a window
    can sit mid-window, pointing somewhere that knows nothing new —
    measured: 200k-doc ladder graph, 1105 labels still moving after
    20 jump rounds).

    large-star: every node links its LARGER neighbors to the minimum
    of its closed neighborhood; small-star: edges orient toward the
    smaller endpoint and every node links its smaller neighbors (and
    itself) to that minimum. Each step is one windowed min per node
    (one exchange keyed by node, no aggregate-then-join) — edges
    re-key but never multiply (outputs are subsets of neighbor links;
    small-star's closing distinct drops the repeats).

    Stopping rule: a round ends with ONE group-by aggregate over its
    output that asks whether it is a star forest — every child has
    exactly one parent and no parent is also a child. The first round
    that yields a star forest is the last. Why its roots are the
    component minima:
      1. each star step keeps the node set and the connected
         components of the edge set (every link it drops is replaced
         by a path through a neighborhood minimum, Kiveris et al.);
      2. every edge a round emits points from the larger id (child)
         to the smaller (parent), since both links of small-star go
         to a minimum of smaller neighbors;
      3. in a star forest each star is one component of the edge set,
         so by (1) exactly one component of the input graph, and by
         (2) its root is smaller than every child: the component min.
    A star forest is also a fixpoint of both steps, so this rule stops
    no later than a set-equality test (count + exceptAll per round)
    would, and skips the extra round such a test needs to see nothing
    change.

    Every round's edge set is localCheckpointed (lazily — the
    convergence aggregate materializes it): the aggregate and the next
    round both read it, and the cut keeps the plan from growing with
    the round count (persist() caches the data but keeps the logical
    plan; when each step referenced its input 2-3 times that plan grew
    exponentially and the driver OOMed rendering it at the 200k-doc
    ladder tier).

    ``edges``: (src, dst) pairs, either direction, self-loops and
    duplicates ignored. Output covers every node incident to an edge:
    children -> root rows plus one root -> root row per star.

    Convergence cap: max(30, ceil(log2 n)^2) rounds for n nodes, with
    n read from the first round's convergence aggregate (by (1) it is
    the input's node count, at most 2|E|, so no separate count runs).
    The theoretical bound is O(log^2 n) alternations, so a fixed 30
    could be legitimately exceeded by a huge adversarial graph
    (log2(10^9)^2 ~ 900) even though OBSERVED convergence is
    ~2*log2(n) (ladder graphs, 200k nodes: 9 alternations). Hitting
    the cap raises, because at that point the edge set is cycling, not
    converging.
    """
    import math

    E, stats = _star_round(_star_input(edges))
    round_cap = max(30, math.ceil(math.log2(max(stats.n, 2))) ** 2)
    rounds = 1
    while stats.bad:
        if rounds == round_cap:
            raise RuntimeError(
                f"star_components did not converge in {round_cap} rounds "
                "(cap = max(30, ceil(log2 n)^2), at or above the theoretical "
                "O(log^2 n) alternation bound) — the edge set is cycling, not "
                "converging."
            )
        E, stats = _star_round(E)
        rounds += 1
    return E.select(F.col("u").alias("node"), F.col("v").alias("cluster_id")).unionByName(
        E.select(F.col("v").alias("node"), F.col("v").alias("cluster_id")).distinct()
    )


def cluster_append(
    stored_labels: DataFrame,
    new_edges: DataFrame,
    key: str = "doc_id",
) -> DataFrame:
    """(key, cluster_id): incremental connected-components maintenance —
    merge a batch of NEW near-dup edges into a STORED cluster labeling
    without re-clustering the corpus. The daily-ingest half of the
    cluster artifact, completing the store symmetry the incremental
    pair table (incremental_neardup_pairs), the Bloom bitmap
    (bloom_bitmap_append), and the stored IVF index already have.
    It is also the one contraction cluster_takedown and dedup_upsert
    run: each hands it the stored rows it keeps plus every edge that
    can relabel anything.

    Algorithm — contract, solve small, relabel:
      1. Map each new edge's endpoints through the stored labeling
         (endpoints absent from the store label themselves). Because a
         stored cluster is connected, it can be CONTRACTED to its
         label: any new edge touching a member merges the whole
         cluster, so the supergraph over {stored labels} ∪ {new nodes}
         has exactly the connectivity the merge needs.
      2. Run star_components on the contracted edge set — batch-
         neighborhood-sized, NOT corpus-sized (a day's edges touch a
         day's clusters).
      3. Relabel: stored rows map label→super-label (left join +
         coalesce keeps untouched clusters verbatim); the new nodes
         are the contraction's super-nodes that are not stored labels,
         so their rows come from the contraction's own output and the
         edge lineage runs once. (A label is a member id — the
         component min — so a new node, absent from the store, can
         never be mistaken for one.)

    Labels stay component-MIN doc ids: a stored label is the min of
    its members, a new node is itself, and star_components roots at
    the supernode minimum — min of mins = global component min. So
    the result is IDENTICAL to a from-scratch clustering over the
    union pair graph, and the registered query pins exactly that
    under dedup_clusters' transitive-closure oracle verbatim. New
    nodes whose every edge is a self-loop carry no row (singletons
    are absent, as in neardup_clusters).

    Cost at 100 TB: batch-sized edge mapping, a contracted-graph CC
    whose node count is the touched-cluster count, one broadcast
    map-join over the store scan that any store rewrite pays anyway,
    and one anti-join of the contraction's output against the label
    column. A delta-only variant (emit just changed + new rows) drops
    the store scans to touched-rows; the full view is registered
    because it is the hash-checkable contract.
    """
    lab = stored_labels.select(
        F.col(key).alias("_n"), F.col("cluster_id").alias("_l")
    )
    super_edges = (
        new_edges.select("src", "dst")
        .join(lab.withColumnsRenamed({"_n": "src", "_l": "_ls"}), "src", "left")
        .join(lab.withColumnsRenamed({"_n": "dst", "_l": "_ld"}), "dst", "left")
        .select(
            F.coalesce(F.col("_ls"), F.col("src")).alias("src"),
            F.coalesce(F.col("_ld"), F.col("dst")).alias("dst"),
        )
    )
    # star_components drops the self-loops an in-cluster edge maps to
    supmap = star_components(super_edges)
    out_store = (
        stored_labels.join(
            supmap.withColumnsRenamed({"node": "_sn", "cluster_id": "_sl"}),
            stored_labels["cluster_id"] == F.col("_sn"),
            "left",
        )
        .select(
            F.col(key),
            F.coalesce(F.col("_sl"), F.col("cluster_id")).alias("cluster_id"),
        )
    )
    out_new = supmap.join(
        stored_labels.select(F.col("cluster_id").alias("node")), "node", "left_anti"
    ).select(F.col("node").alias(key), "cluster_id")
    return out_store.unionByName(out_new)


def _takedown_repair(
    stored_labels: DataFrame,
    takedown: DataFrame,
    corpus_bands: DataFrame,
    corpus_shingles: DataFrame,
    threshold: float,
    key: str,
    max_bucket_size: int | None,
) -> tuple[DataFrame, DataFrame]:
    """(untouched labels, repair edges) of a takedown: the stored rows
    of clusters that lost no member, kept verbatim, and the verified
    near-dup edges among the surviving members of the touched clusters
    (src, dst). cluster_takedown contracts them; dedup_upsert adds its
    batch edges first. See cluster_takedown for the algorithm."""
    td = takedown.select(key).distinct()
    touched_cl = (
        stored_labels.join(td, key, "left_semi").select("cluster_id").distinct()
    )
    untouched = stored_labels.join(touched_cl, "cluster_id", "left_anti").select(
        key, "cluster_id"
    )
    survivors = (
        stored_labels.join(touched_cl, "cluster_id", "left_semi")
        .select(key)
        .join(td, key, "left_anti")
    )
    b = corpus_bands.join(survivors, key, "left_semi")
    if max_bucket_size is not None:
        # Same hub-bucket guard as minhash_lsh_pairs, with the SAME
        # counting universe a capped from-scratch rebuild on survivors
        # would use: ALL survivor rows of the bucket corpus-wide, not
        # just the touched-cluster slice (ADVICE r11 item 1 — counting
        # the slice lets a corpus-wide hub bucket fall under the cap
        # locally and emit pairs the capped build suppressed, merging
        # clusters the stored labeling kept apart). Cost stays
        # takedown-neighborhood-sized: only buckets PRESENT in the
        # touched slice are counted (semi-join on the bucket key),
        # so the corpus band table is scanned once, filtered to a
        # request-sized bucket set, before the count.
        touched_buckets = b.select("band", "band_hash").distinct()
        ok_buckets = (
            corpus_bands.join(td, key, "left_anti")
            .join(touched_buckets, ["band", "band_hash"], "left_semi")
            .groupBy("band", "band_hash")
            .agg(F.count("*").alias("_bn"))
            .where(F.col("_bn") <= max_bucket_size)
            .select("band", "band_hash")
        )
        b = b.join(ok_buckets, ["band", "band_hash"], "left_semi")
    a, b2 = b.alias("a"), b.alias("b")
    candidates = (
        a.join(b2, ["band", "band_hash"])
        .where(F.col(f"a.{key}") < F.col(f"b.{key}"))
        .select(F.col(f"a.{key}").alias("a_id"), F.col(f"b.{key}").alias("b_id"))
        .distinct()
    )
    sh = corpus_shingles.join(survivors, key, "left_semi")
    edges = (
        candidates.join(sh.withColumnsRenamed({key: "a_id", "sh": "sh_a"}), "a_id")
        .join(sh.withColumnsRenamed({key: "b_id", "sh": "sh_b"}), "b_id")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .where(
            F.round(
                F.col("inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("inter")).cast("double"),
                6,
            )
            >= threshold
        )
        .select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    return untouched, edges


def cluster_takedown(
    stored_labels: DataFrame,
    takedown: DataFrame,
    corpus_bands: DataFrame,
    corpus_shingles: DataFrame,
    threshold: float = 0.5,
    key: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(key, cluster_id): right-to-be-forgotten maintenance of the
    stored cluster labeling — remove a takedown set's documents and
    repair ONLY the clusters they belonged to, without re-clustering
    the corpus. The delete-path counterpart of cluster_append: append
    merges components (new edges only connect), takedown can SPLIT
    them (a removed doc may be the bridge between two halves) and can
    change a cluster's label (the removed doc may BE the component
    minimum), so untouched-cluster reuse plus a localized re-CC is the
    only safe shortcut — and it is safe, because near-dup edges never
    cross component boundaries: removing nodes cannot connect
    anything, so every post-takedown component lies entirely inside
    one pre-takedown cluster.

    Algorithm:
      1. touched = stored clusters containing a takedown doc;
         untouched rows are kept VERBATIM from the store.
      2. Surviving members of touched clusters re-pair from the STORED
         band/shingle artifacts (semi-join to survivors, band self-join,
         exact-Jaccard verify) — no document is re-shingled.
         ``max_bucket_size`` applies the minhash_lsh_pairs hub-bucket
         cap with the capped-REBUILD counting universe: bucket sizes
         are counted over ALL survivor rows corpus-wide (restricted to
         buckets present in the touched slice, so the count stays
         takedown-neighborhood-sized), so repairing a labeling built
         from capped pairs equals a capped from-scratch rebuild on the
         survivors — a corpus-wide hub bucket stays suppressed even
         where the touched slice alone would fall under the cap.
      3. cluster_append(untouched rows, those edges) — the one
         contraction. It is exact: the repair edges touch only
         survivors of touched clusters, which are absent from the
         untouched rows, so the contraction labels them as new nodes
         while every untouched row keeps its label; survivors that
         lost all their edges drop out of the frame (singletons carry
         no row, matching neardup_clusters).

    Cost at 100 TB: the takedown set is tiny (legal/opt-out requests),
    touched clusters are near-dup-cluster-sized, so every stage after
    the two store semi-joins is takedown-neighborhood-sized. The
    registered query pins the equality against a from-scratch
    clustering of the corpus minus the takedown set (dedup_clusters'
    transitive-closure oracle with the takedown predicate pushed into
    the pair table).
    """
    untouched, repair = _takedown_repair(
        stored_labels, takedown, corpus_bands, corpus_shingles, threshold, key,
        max_bucket_size,
    )
    return cluster_append(untouched, repair, key=key)


def dedup_upsert(
    stored_labels: DataFrame,
    changed_docs: DataFrame,
    corpus_bands: DataFrame,
    corpus_shingles: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    key: str = "doc_id",
    max_bucket_size: int | None = None,
    batch_bands: DataFrame | None = None,
    batch_shingles: DataFrame | None = None,
) -> DataFrame:
    """(key, cluster_id): re-ingest CHANGED documents into the stored
    near-dup cluster labeling — the upsert verb for the dedup store,
    completing its lifecycle matrix (build / append / takedown /
    upsert) and the package-wide upsert symmetry (ivf_upsert,
    postings_upsert, maxsim_upsert, graph_upsert). A changed document
    is a delete THEN an insert: its old near-dup edges are stale (the
    content that justified them is gone), so the composition is

      1. cluster_takedown's first half on (stored, changed ids, OLD
         bands/shingles): the untouched rows, kept verbatim, and the
         repair edges among the survivors of touched clusters,
      2. survivor artifacts = bands/shingles ANTI-JOIN changed ids
         (the store rewrite a takedown pays anyway),
      3. new edges = incremental_neardup_pairs(changed docs vs the
         survivor artifacts)  UNION  minhash_lsh_pairs(changed docs
         alone) — between them every pair of the current corpus that
         touches a changed doc, both batch-sized,
      4. cluster_append(untouched rows, repair ∪ step-3 edges) — ONE
         contraction per upsert, not one for the takedown and another
         for the append.

    Equality with a from-scratch clustering of the current corpus
    (survivors' old text + the batch's new text) follows because the
    current pair graph partitions into survivor<->survivor edges and
    edges touching a changed doc (enumerated in step 3). The
    survivor<->survivor edges either lie inside an untouched cluster
    (encoded by its stored label, which the contraction keeps — near-
    dup edges never cross component boundaries) or join two survivors
    of one touched cluster (the repair edges). Those survivors and the
    changed docs are absent from the untouched rows, so the contraction
    treats them as new nodes, and its contract-solve-relabel reproduces
    the CC of the union graph with component-min labels. Replay-safe:
    re-upserting the same batch re-derives the same edges against the
    same survivors.

    New doc ids come through for free (the takedown of an unknown id
    is the pinned identity), so upsert subsumes append — but note the
    inputs: ``changed_docs`` carries the NEW text, while
    ``corpus_bands``/``corpus_shingles`` must be the CURRENT stored
    artifacts (still containing the changed docs' OLD rows; step 2
    excludes them). ``batch_bands``/``batch_shingles``: optional
    precomputed artifacts of the batch's NEW text, threaded into the
    edge-discovery legs so a caller rewriting the stores anyway (the
    streaming upsert face) pays the batch signature pipeline once.

    ``max_bucket_size`` caveat: the == rebuild equality above is
    EXACT only for max_bucket_size=None. With a cap, the three legs
    count hub-bucket sizes over three different universes (the
    takedown repair: all survivor rows; the incremental leg: the
    survivor store; the within-batch leg: the batch alone), while a
    capped from-scratch rebuild counts over the whole CURRENT corpus
    (survivors + batch) — so a bucket that crosses the cap only when
    batch rows are added (or only corpus-wide) is suppressed on one
    side and not the other, and the labelings can diverge at exactly
    those hub-bucket boundaries. Capped upsert is therefore a
    BOUNDED-WORK mode (every leg's fanout is capped), not a pinned
    equality — the same honest contract PLANS.md documents for the
    capped-repair family; unify the counting universe before pinning
    a capped oracle row.

    Cost at 100 TB: two store semi/anti-join scans plus batch-sized
    signature work, and one contraction over the touched clusters."""
    changed_ids = changed_docs.select(key)
    untouched, repair = _takedown_repair(
        stored_labels, changed_ids, corpus_bands, corpus_shingles, threshold, key,
        max_bucket_size,
    )
    surv_bands = keyed_takedown(corpus_bands, changed_ids, key)
    surv_shingles = keyed_takedown(corpus_shingles, changed_ids, key)
    vs_corpus = incremental_neardup_pairs(
        changed_docs,
        surv_bands,
        surv_shingles,
        threshold=threshold,
        text_col=text_col,
        key=key,
        max_bucket_size=max_bucket_size,
        batch_bands=batch_bands,
        batch_shingles=batch_shingles,
    ).select(F.col("new_id").alias("src"), F.col("corpus_id").alias("dst"))
    within_batch = minhash_lsh_pairs(
        changed_docs,
        threshold=threshold,
        text_col=text_col,
        key=key,
        max_bucket_size=max_bucket_size,
        bands_df=batch_bands,
        shingles_df=batch_shingles,
    ).select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    return cluster_append(
        untouched, repair.unionByName(vs_corpus).unionByName(within_batch), key=key
    )


def neardup_clusters(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    key: str = "doc_id",
    max_bucket_size: int | None = None,
    method: str = "star",
    bands_df: DataFrame | None = None,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(key, cluster_id): connected components over the near-dup pair
    graph — every doc in a duplicate cluster gets the cluster's
    smallest doc id as label; docs in no verified pair are absent.

    Plan: minhash_lsh_pairs, then star_components (large-star/small-
    star contraction, O(log^2 n) rounds on ANY graph structure). Star
    contraction is the only CC algorithm because the scale ladder
    showed min-label propagation failing at 200k docs: its rounds grow
    with the pair graph's diameter (chained near-dups — boilerplate
    drift, mirror chains — make that diameter proportional to the
    chain length), and even with pointer jumping it left 1105 labels
    moving after 20 rounds under adversarial id placement. A cap hit
    raises instead of returning a partial labeling that would split
    one true cluster.

    ``bands_df`` / ``shingles_df`` pass through to minhash_lsh_pairs'
    precomputed-artifact hooks (callers that also feed an incremental
    pair join from the same corpus artifacts share one signature pass).

    ``method``: only ``"star"`` is accepted, for callers that still
    name it; any other value raises ValueError.
    """
    if method != "star":
        raise ValueError(f"neardup_clusters: method must be 'star', got {method!r}")
    pairs = minhash_lsh_pairs(
        df,
        threshold,
        text_col,
        key,
        max_bucket_size=max_bucket_size,
        bands_df=bands_df,
        shingles_df=shingles_df,
    )
    return star_components(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    ).select(F.col("node").alias(key), "cluster_id")


def dedup_survivors(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    key: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(key): the KEPT document ids after near-dup collapse — every doc
    except cluster members that aren't their cluster's minimum id.
    This is the materialized view a training pipeline actually writes
    downstream of LSH + connected components (neardup_clusters: star
    contraction, the one CC path, because the scale ladder showed
    min-label propagation failing to converge at 200k docs).

    Plan: on a typical corpus the loser set is small (only docs in
    some near-dup cluster, minus one keeper each) and AQE broadcasts
    it into the left-anti join at runtime — one scan of the full
    table, no extra shuffle of the big side. The hint is deliberately
    NOT forced (ADVICE r05): a near-dup-heavy corpus can make losers a
    large fraction of the input, and a forced broadcast would OOM
    where AQE's size check falls back to a shuffled anti join.
    """
    clusters = neardup_clusters(
        df, threshold, text_col, key, max_bucket_size=max_bucket_size
    )
    losers = clusters.where(F.col("cluster_id") != F.col(key)).select(key)
    return df.select(key).join(losers, key, "left_anti")


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """(a_id, b_id, containment_a, containment_b): shingle containment
    |A∩B|/|A| (and /|B|) for pairs where EITHER direction clears
    ``threshold`` — the asymmetric near-dup signal Jaccard misses: a
    short document quoted whole inside a long one has low Jaccard
    (small intersection over a big union) but containment ~1 on the
    short side. The standard quote/subset detector in corpus curation
    (Broder's containment, the other half of the resemblance paper).

    Plan shape: identical to ngram_jaccard_pairs — shingle equi-join
    candidates (never a cross join), one keyed intersection count,
    per-doc sizes joined back; only the final arithmetic differs, so
    every scale property (and the hub-shingle cap pattern, if needed)
    carries over."""
    sh = cached(shingle_table(df, text_col, key))
    sizes = sh.groupBy(key).agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col(f"a.{key}") < F.col(f"b.{key}"))
        .groupBy(F.col(f"a.{key}").alias("a_id"), F.col(f"b.{key}").alias("b_id"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({key: "a_id", "n_shingles": "n_a"}), "a_id")
        .join(sizes.withColumnsRenamed({key: "b_id", "n_shingles": "n_b"}), "b_id")
        .withColumn("containment_a", F.round(F.col("inter") / F.col("n_a").cast("double"), 6))
        .withColumn("containment_b", F.round(F.col("inter") / F.col("n_b").cast("double"), 6))
        .where(F.greatest("containment_a", "containment_b") >= threshold)
        .select("a_id", "b_id", "containment_a", "containment_b")
    )


def minhash_jaccard_estimate(
    df: DataFrame,
    n_hashes: int = MINHASH_FUNCS,
    text_col: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """(a_id, b_id, jaccard_est, jaccard_exact, abs_error): for every
    LSH candidate pair, the MinHash ESTIMATE (fraction of agreeing
    signature components — the number a production pipeline acts on
    when it skips exact verification) next to the exact shingle
    Jaccard, plus the absolute error. The sketch-error contract of the
    HLL / approx-percentile / CMS family applied to MinHash: E[est] =
    J with std sqrt(J(1-J)/k), and identical docs estimate exactly 1.

    Plan shape: the signature table feeds the band join (candidates)
    and both estimate sides; the shingle table feeds both exact sides
    — all equi-joins on doc ids, candidate-bounded."""
    sig = cached(minhash_signature(df, n_hashes, text_col, key))
    bands = minhash_bands(sig, n_hashes=n_hashes, key=key)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, ["band", "band_hash"])
        .where(F.col(f"a.{key}") < F.col(f"b.{key}"))
        .select(F.col(f"a.{key}").alias("a_id"), F.col(f"b.{key}").alias("b_id"))
        .distinct()
    )
    est = (
        cand.join(sig.withColumnsRenamed({key: "a_id", "signature": "sig_a"}), "a_id")
        .join(sig.withColumnsRenamed({key: "b_id", "signature": "sig_b"}), "b_id")
        .withColumn(
            "jaccard_est",
            F.round(
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
                    )
                )
                / F.lit(float(n_hashes)),
                6,
            ),
        )
        .select("a_id", "b_id", "jaccard_est")
    )
    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    sh = cached(spread(df).select(F.col(key), shingles(text_col).alias("sh")))
    return (
        est.join(sh.withColumnsRenamed({key: "a_id", "sh": "sh_a"}), "a_id")
        .join(sh.withColumnsRenamed({key: "b_id", "sh": "sh_b"}), "b_id")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard_exact",
            F.round(
                F.col("inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .select(
            "a_id",
            "b_id",
            "jaccard_est",
            "jaccard_exact",
            F.round(F.abs(F.col("jaccard_est") - F.col("jaccard_exact")), 6).alias("abs_error"),
        )
    )


def dup_rate_by_source(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    key: str = "doc_id",
) -> DataFrame:
    """(source, n_docs, n_distinct, n_dup, dup_rate): exact-duplicate
    density per source — the dedup OBSERVABILITY view. Dedup ops emit
    the pairs/survivors; this reports where the duplication comes
    from, the number that decides which domains get crawled less (or
    dropped) next cycle.

    Within-source semantics: a text shared by two sources counts as a
    duplicate in neither (each source has it once) — the per-domain
    crawl-hygiene reading, matching the per-source GROUP BY both
    engines state.

    Plan shape: one (source, sha256) hash-agg — exact_dedup's single
    linear shuffle with the source key prepended — then one
    sources-sized keyed rollup. Linear at any scale, no pairwise
    stage."""
    per_text = (
        df.select(F.col(source_col), F.sha2(F.col(text_col), 256).alias("content_hash"))
        .groupBy(source_col, "content_hash")
        .agg(F.count("*").alias("copies"))
    )
    return per_text.groupBy(source_col).agg(
        F.sum("copies").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_distinct"),
        (F.sum("copies") - F.count("*")).cast("long").alias("n_dup"),
        F.round(
            (F.sum("copies") - F.count("*")) / F.sum("copies").cast("double"), 6
        ).alias("dup_rate"),
    )


def dedup_pair_quality(
    df: DataFrame,
    threshold: float = 0.5,
    max_hamming: int = 3,
    text_col: str = "text",
    key: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(method, n_true, n_found, n_hit, pair_recall, pair_precision):
    the candidate-tier quality matrix for DEDUP — what the recall
    matrix (recall@10) is for ANN. Ground truth is the exact word-3-gram
    Jaccard pair set at ``threshold``; each approximate tier (MinHash-
    LSH, its production bucket-capped form, SimHash hamming<=k) is
    scored by how much of the truth it recovers (pair_recall) and how
    much of what it emits is true (pair_precision).

    Interpreting the rows: LSH tiers verify candidates by exact
    Jaccard, so their precision is 1.0 BY CONSTRUCTION and recall
    isolates banding coverage; SimHash pairs by a different similarity
    (sketch hamming), so both numbers move — precision says how well
    hamming<=k proxies Jaccard>=t on this corpus. These are the
    numbers that pick a dedup tier + parameters before a 100-TB run,
    measured on a sample exactly like this.

    Plan shape: the truth and each tier are the already-proven
    bounded ops; the comparisons are pair-table joins (candidate-
    bounded) collapsing into 1-row aggregates; the output is one row
    per tier."""
    truth = cached(ngram_jaccard_pairs(df, threshold, text_col, key).select(
        "a_id", "b_id"
    ))
    n_true = truth.agg(F.count("*").cast("long").alias("n_true"))

    def row(method: str, pairs: DataFrame) -> DataFrame:
        p = pairs.select("a_id", "b_id")
        n_found = p.agg(F.count("*").cast("long").alias("n_found"))
        n_hit = p.join(truth, ["a_id", "b_id"], "left_semi").agg(
            F.count("*").cast("long").alias("n_hit")
        )
        return (
            n_true.crossJoin(F.broadcast(n_found))
            .crossJoin(F.broadcast(n_hit))
            .select(
                F.lit(method).alias("method"),
                "n_true",
                "n_found",
                "n_hit",
                F.round(F.try_divide(F.col("n_hit"), F.col("n_true")), 6).alias(
                    "pair_recall"
                ),
                F.round(F.try_divide(F.col("n_hit"), F.col("n_found")), 6).alias(
                    "pair_precision"
                ),
            )
        )

    out = row("minhash_lsh", minhash_lsh_pairs(df, threshold, text_col, key))
    out = out.unionByName(
        row(
            "minhash_lsh_capped",
            minhash_lsh_pairs(
                df, threshold, text_col, key, max_bucket_size=PROD_MAX_BUCKET_SIZE
            ),
        )
    )
    out = out.unionByName(
        row("simhash", simhash_pairs(df, max_hamming, text_col, key))
    )
    return out


def paragraph_dedup_rewrite(
    df: DataFrame,
    para_words: int = 5,
    text_col: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """(key, text_dedup, n_paras, n_kept): CROSS-document paragraph
    deduplication — the unit CCNet (Wenzek et al. 2020) actually
    dedups at: every paragraph that appears anywhere in the corpus
    keeps its FIRST occurrence (smallest (doc, position)) and every
    later copy, in any document, is removed; surviving paragraphs are
    re-joined in document order. Completes the rewrite-granularity
    ladder: span_dedup_rewrite (50-token windows, cross-doc) /
    line_dedup_rewrite (lines, within-doc) / this (paragraphs,
    cross-doc). Documents are re-paragraphed into ``para_words``-word
    groups (the fixture corpus is single-line), standing in for the
    \\n\\n-split a web corpus would use.

    Plan shape: paragraphing is a PER-ROW narrow map (split + slice
    over a generated index — no shuffle, no explode until the
    paragraph table itself); first-occurrence is groupBy(para) ->
    min(struct(doc, pid)) + one equi-join back — the partial-agg
    (map-side combine) form of the window alternative, so a
    boilerplate paragraph repeated a billion times collapses
    map-side instead of hot-spotting one window partition; then one
    doc-keyed ordered re-assembly. Everything shuffles paragraph-
    sized rows exactly twice (once on the paragraph, once on the
    doc). At 100 TB group on xxhash64(paragraph) to shrink the
    shuffle key (cited CCNet does exactly this with SHA-1); exact
    strings are kept here so the oracle needs no hash seam."""
    ws = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    n = F.size(ws)
    pids = F.sequence(F.lit(0), F.greatest((n - F.lit(1)) / F.lit(para_words), F.lit(0)).cast("int"))
    paras = df.select(
        F.col(key),
        F.posexplode(
            F.transform(
                pids,
                lambda j: F.array_join(
                    F.slice(ws, j * para_words + 1, para_words), " "
                ),
            )
        ).alias("pid", "para"),
    ).where(F.col("para") != "")
    first = paras.groupBy("para").agg(
        F.min(F.struct(F.col(key).alias("k"), F.col("pid").alias("p"))).alias("_f")
    )
    kept = (
        paras.join(first, "para")
        .where((F.col(key) == F.col("_f.k")) & (F.col("pid") == F.col("_f.p")))
        .drop("_f")
    )
    totals = paras.groupBy(key).agg(F.count("*").cast("long").alias("n_paras"))
    rebuilt = kept.groupBy(key).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pid", "para"))),
                lambda s: s["para"],
            ),
            " ",
        ).alias("text_dedup"),
        F.count("*").cast("long").alias("n_kept"),
    )
    return (
        df.select(key)
        .join(totals, key, "left")
        .join(rebuilt, key, "left")
        .select(
            key,
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            F.coalesce("n_paras", F.lit(0)).cast("long").alias("n_paras"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def canonical_dedup(
    df: DataFrame, text_col: str = "text", key: str = "doc_id"
) -> DataFrame:
    """(content_hash, keeper_id, dup_count, raw_distinct): exact dedup
    over the CANONICAL text form — lowercase, punctuation stripped,
    whitespace runs collapsed, edges trimmed — the normalize-then-hash
    tier every production pipeline runs between byte-exact dedup and
    MinHash: it catches the re-encoded / re-wrapped / case-mangled
    copies byte hashing misses at a tiny fraction of near-dup cost.
    ``raw_distinct`` counts the distinct RAW texts inside each
    canonical group, so `dup_count > raw_distinct... > 1` rows are
    exactly the copies ONLY canonicalization finds — the measurement
    that prices this tier against exact_dedup.

    Same plan as exact_dedup (the canonicalization is a narrow per-row
    regex chain fused into the scan): one hash-agg shuffle on the
    canonical hash, map-side partials, linear at any scale."""
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9\\s]", ""),
            "\\s+",
            " ",
        )
    )
    hashed = df.select(
        F.col(key),
        F.sha2(canon, 256).alias("content_hash"),
        F.sha2(F.col(text_col), 256).alias("_raw_hash"),
    )
    return hashed.groupBy("content_hash").agg(
        F.min(key).alias("keeper_id"),
        F.count("*").cast("long").alias("dup_count"),
        F.countDistinct("_raw_hash").cast("long").alias("raw_distinct"),
    )


def ngram_jaccard_prefix_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """(a_id, b_id, jaccard): exact n-gram Jaccard pairs via PREFIX
    FILTERING (Chaudhuri et al. SSJoin 2006 / Xiao et al. PPJoin
    2008) — the classic set-similarity-join candidate reducer: order
    every document's shingles by GLOBAL rarity (document frequency
    asc, shingle asc — one total order shared by all docs), and index
    only each doc's first |x| - ceil(t*|x|) + 1 shingles. Two
    documents with Jaccard >= t MUST share a prefix shingle (if the
    prefixes were disjoint, the overlap is at most the suffix
    lengths, too small to reach t), so joining prefixes instead of
    full shingle sets generates every true pair from a fraction of
    the candidate fanout — and because the order puts RARE shingles
    in prefixes, the join keys are exactly the low-fanout ones (the
    principled version of what max_shingle_freq does by brute cap,
    with NO recall loss).

    Candidates are then verified by exact intersection over the FULL
    shingle table, so the output equals dedup_ngram_jaccard verbatim
    — registered under its oracle, turning the no-false-negatives
    theorem into a per-round hash check.

    Plan: one df-count agg on the shingle key, one per-doc rank
    window (doc-keyed), the prefix self-join (rare-key equi-join),
    then a candidate-bounded verify join. At 100 TB the prefix join
    is the standard production form of exact set-similarity."""
    sh = cached(shingle_table(df, text_col, key))
    sizes = sh.groupBy(key).agg(F.count("*").alias("n_shingles"))
    freq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    w = Window.partitionBy(key).orderBy(F.asc("_df"), F.asc("shingle"))
    pref = (
        sh.join(freq, "shingle")
        .withColumn("_pos", F.row_number().over(w))
        .join(sizes, key)
        .where(
            F.col("_pos")
            <= F.col("n_shingles")
            - F.ceil(F.lit(threshold) * F.col("n_shingles"))
            + 1
        )
        .select(F.col(key), F.col("shingle"))
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "shingle")
        .where(F.col(f"a.{key}") < F.col(f"b.{key}"))
        .select(F.col(f"a.{key}").alias("a_id"), F.col(f"b.{key}").alias("b_id"))
        .distinct()
    )
    sh_a = sh.select(F.col(key).alias("a_id"), "shingle")
    sh_b = sh.select(F.col(key).alias("b_id"), "shingle")
    inter = (
        cand.join(sh_a, "a_id")
        .join(sh_b, ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({key: "a_id", "n_shingles": "n_a"}), "a_id")
        .join(sizes.withColumnsRenamed({key: "b_id", "n_shingles": "n_b"}), "b_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )
