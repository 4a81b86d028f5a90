"""Dedup query family (split from the entry_queries monolith;
see entry_queries/__init__.py for the assembled registry)."""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.session import cached
from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
    BLOOM_BITS,
    BLOOM_HASHES,
    PROD_MAX_BUCKET_SIZE,
    PROD_MAX_SHINGLE_FREQ,
)
from calculate_file_content_size_for_vector_db_spark.sources.io import read_table

from calculate_file_content_size_for_vector_db_spark.entry_queries._core import (
    REGISTRY,
    _INCR_BATCH_MOD,
    _SQL_EMB,
    _SQL_MINHASH_BANDS,
    _SQL_SHINGLES,
    _SQL_TOKENS,
    _docs,
    _emb,
    _sql_pq_chain,
    register,
)


@register(
    "dedup_exact",
    """
SELECT sha256(text) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS keeper_id,
       count(*) AS dup_count
FROM documents
GROUP BY sha256(text)
""",
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir)).select("content_hash", "keeper_id", "dup_count")


@register(
    "dedup_ngram_jaccard",
    "WITH "
    + _SQL_SHINGLES
    + """,
ex AS (
    SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sh_t
),
cand AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           count(*) AS inter, any_value(a.n) AS n_a, any_value(b.n) AS n_b
    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id,
       round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) AS jaccard
FROM cand
WHERE round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) >= 0.5
""",
)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs (no candidate bound) — full recall;
    the production-scale bounded form is dedup_ngram_jaccard_capped,
    mirroring the dedup_minhash_lsh / _capped naming pair."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


@register(
    "dedup_ngram_jaccard_capped",
    "WITH "
    + _SQL_SHINGLES
    + f""",
ex AS (
    SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sh_t
),
exf AS (
    -- mirror of max_shingle_freq: hub shingles leave the JOIN side
    -- only; n (per-doc size) keeps every shingle
    SELECT * FROM ex QUALIFY count(*) OVER (PARTITION BY g) <= {PROD_MAX_SHINGLE_FREQ}
),
cand AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           count(*) AS inter, any_value(a.n) AS n_a, any_value(b.n) AS n_b
    FROM exf a JOIN exf b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id,
       round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) AS jaccard
FROM cand
WHERE round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) >= 0.5
""",
)
def dedup_ngram_jaccard_capped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-candidate form — the production default at scale: hub
    shingles (doc-freq > PROD_MAX_SHINGLE_FREQ) are dropped from
    candidate generation, since one boilerplate shingle shared by 1M
    docs fans the self-join out quadratically. The cap is mirrored in
    the oracle's QUALIFY filter, so the bounded semantics themselves
    are hash-verified (neutral at fixture scale: max doc-freq there is
    7)."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        PROD_MAX_SHINGLE_FREQ,
        ngram_jaccard_pairs,
    )

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.5, max_shingle_freq=PROD_MAX_SHINGLE_FREQ
    )


@register(
    "minhash_signature",
    _SQL_MINHASH_BANDS + "SELECT doc_id, band, band_hash FROM bands",
)
def minhash_signature_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        minhash_bands,
        minhash_signature,
    )

    return minhash_bands(minhash_signature(_docs(spark, sf_dir))).select(
        "doc_id", "band", "band_hash"
    )


@register(
    "dedup_minhash_lsh",
    _SQL_MINHASH_BANDS
    + """,
cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
verified AS (
    SELECT c.a_id, c.b_id,
           len(list_intersect(sa.sh, sb.sh)) AS inter,
           len(sa.sh) AS n_a, len(sb.sh) AS n_b
    FROM cand c
    JOIN sh_t sa ON sa.doc_id = c.a_id
    JOIN sh_t sb ON sb.doc_id = c.b_id
)
SELECT a_id, b_id,
       round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) AS jaccard
FROM verified
WHERE round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) >= 0.5
""",
)
def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5)


@register(
    "dedup_minhash_lsh_capped",
    _SQL_MINHASH_BANDS
    + f""",
bands_f AS (
    -- mirror of max_bucket_size: oversized band buckets are dropped
    -- whole before candidate generation
    SELECT * FROM bands
    QUALIFY count(*) OVER (PARTITION BY band, band_hash) <= {PROD_MAX_BUCKET_SIZE}
),
cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands_f a JOIN bands_f b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
verified AS (
    SELECT c.a_id, c.b_id,
           len(list_intersect(sa.sh, sb.sh)) AS inter,
           len(sa.sh) AS n_a, len(sb.sh) AS n_b
    FROM cand c
    JOIN sh_t sa ON sa.doc_id = c.a_id
    JOIN sh_t sb ON sb.doc_id = c.b_id
)
SELECT a_id, b_id,
       round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) AS jaccard
FROM verified
WHERE round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) >= 0.5
""",
)
def dedup_minhash_lsh_capped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production default for MinHash-LSH at scale: band buckets
    larger than PROD_MAX_BUCKET_SIZE are dropped before the candidate
    self-join, bounding per-bucket fanout at cap^2 on low-entropy
    corpora where exact LSH degenerates to quadratic. Cap mirrored in
    the oracle's QUALIFY filter (neutral at fixture scale: max bucket
    there is 3), so the bounded semantics are hash-verified."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs(spark, sf_dir), threshold=0.5, max_bucket_size=PROD_MAX_BUCKET_SIZE
    )


@register(
    "dedup_incremental",
    _SQL_MINHASH_BANDS
    + f""",
cand AS (
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash
    WHERE a.doc_id % {_INCR_BATCH_MOD} = 0 AND b.doc_id % {_INCR_BATCH_MOD} <> 0
),
verified AS (
    SELECT c.new_id, c.corpus_id,
           len(list_intersect(sa.sh, sb.sh)) AS inter,
           len(sa.sh) AS n_a, len(sb.sh) AS n_b
    FROM cand c
    JOIN sh_t sa ON sa.doc_id = c.new_id
    JOIN sh_t sb ON sb.doc_id = c.corpus_id
)
SELECT new_id, corpus_id,
       round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) AS jaccard
FROM verified
WHERE round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) >= 0.5
""",
)
def dedup_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-corpus dedup (VERDICT r05 stretch): every 7th doc
    plays the daily batch, the rest the existing corpus whose band and
    shingle tables are the pre-built inputs — only the batch is
    signature-hashed, matching the operation a 100-TB pipeline runs per
    ingest. The oracle computes bands over the union (signatures are
    per-doc, so subset bands == filtered union bands) and splits in the
    candidate predicate."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        bands_from_shingle_sets,
        incremental_neardup_pairs,
        shingle_sets,
    )

    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % _INCR_BATCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % _INCR_BATCH_MOD != 0)
    # one corpus tokenize+shingle pass (r16): sets persist DISK_ONLY
    # (corpus-sized cache rule), bands derive from the cached arrays
    corpus_sh = cached(shingle_sets(corpus), StorageLevel.DISK_ONLY)
    corpus_bands = bands_from_shingle_sets(corpus_sh)
    return incremental_neardup_pairs(batch, corpus_bands, corpus_sh)


@register(
    "dedup_bloom_prefilter",
    _SQL_MINHASH_BANDS
    + f""",
hashed AS (
    SELECT doc_id, band_hash,
           CAST(('0x' || substring(band_hash, 1, 15)) AS BIGINT) AS h1,
           CAST(('0x' || substring(band_hash, 16, 15)) AS BIGINT) AS h2
    FROM bands
),
corpus_pos AS (
    SELECT DISTINCT (h1 + t.j * h2) % {BLOOM_BITS} AS p
    FROM hashed CROSS JOIN range(0, {BLOOM_HASHES}) t(j)
    WHERE doc_id % {_INCR_BATCH_MOD} <> 0
),
batch_probe AS (
    SELECT doc_id, band_hash, (h1 + t.j * h2) % {BLOOM_BITS} AS p
    FROM hashed CROSS JOIN range(0, {BLOOM_HASHES}) t(j)
    WHERE doc_id % {_INCR_BATCH_MOD} = 0
),
row_ok AS (
    SELECT doc_id, band_hash,
           min(CASE WHEN p IN (SELECT p FROM corpus_pos) THEN 1 ELSE 0 END) AS all_hit
    FROM batch_probe GROUP BY doc_id, band_hash
),
doc_ok AS (SELECT doc_id, max(all_hit) AS hit FROM row_ok GROUP BY doc_id)
SELECT d.doc_id, coalesce(o.hit = 1, FALSE) AS maybe_neardup
FROM documents d LEFT JOIN doc_ok o ON o.doc_id = d.doc_id
WHERE d.doc_id % {_INCR_BATCH_MOD} = 0
""",
)
def dedup_bloom_prefilter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Bloom-join pre-gate for incremental near-dup: the
    stored corpus's LSH band hashes are packed into a bounded bitmap
    (dedup.bloom_bitmap — at most m/32 rows, broadcastable at any
    corpus size) and the daily batch probes it with its own band
    hashes. maybe_neardup=false docs provably share no band hash with
    the corpus, so only the true fraction enters the band equi-join.
    The oracle checks membership against the unpacked DISTINCT
    position set — equivalent because the 32-bit word packing is
    lossless."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        bloom_neardup_prefilter,
        minhash_bands,
        minhash_signature,
    )

    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % _INCR_BATCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % _INCR_BATCH_MOD != 0)
    corpus_bands = minhash_bands(minhash_signature(corpus))
    return bloom_neardup_prefilter(batch, corpus_bands)


@register(
    "dedup_bloom_append",
    _SQL_MINHASH_BANDS
    + f""",
hashed AS (
    SELECT band_hash,
           CAST(('0x' || substring(band_hash, 1, 15)) AS BIGINT) AS h1,
           CAST(('0x' || substring(band_hash, 16, 15)) AS BIGINT) AS h2
    FROM bands
),
pos AS (
    SELECT DISTINCT (h1 + t.j * h2) % {BLOOM_BITS} AS p
    FROM hashed CROSS JOIN range(0, {BLOOM_HASHES}) t(j)
),
words AS (
    SELECT p // 32 AS word_id, CAST(power(2, p % 32) AS BIGINT) AS mask FROM pos
)
SELECT CAST(word_id AS BIGINT) AS word_id, CAST(bit_or(mask) AS BIGINT) AS word
FROM words GROUP BY word_id
""",
)
def dedup_bloom_append_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the Bloom pre-gate's bitmap
    (dedup.bloom_bitmap_union, VERDICT r07 item 3): the stored bitmap
    is built from the corpus band store and persisted to parquet; the
    daily batch's band words are unioned IN (one bounded full-outer +
    bitwise OR) instead of rebuilding over the whole band store. The
    oracle builds the bitmap from scratch over ALL bands, so the hash
    pins union-in == rebuild (bit_or idempotence) THROUGH the parquet
    store seam — and a checkpoint replay that re-admits the same batch
    provably cannot corrupt the filter."""
    import tempfile

    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        bloom_bitmap,
        bloom_bitmap_union,
        minhash_bands,
        minhash_signature,
    )

    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % _INCR_BATCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % _INCR_BATCH_MOD != 0)
    idx = tempfile.mkdtemp(prefix="bloom_store_")
    bloom_bitmap(minhash_bands(minhash_signature(corpus))).write.mode(
        "overwrite"
    ).parquet(f"{idx}/bitmap")
    stored = spark.read.parquet(f"{idx}/bitmap")
    delta = bloom_bitmap(minhash_bands(minhash_signature(batch)))
    return bloom_bitmap_union(stored, delta)


def _sql_simhash(bits: int = 16) -> str:
    return f"""
ws_t AS (
    SELECT doc_id, {_SQL_TOKENS} AS ws FROM documents
),
h_t AS (
    SELECT doc_id,
           list_transform(ws, w -> list_reduce(
               list_transform(string_split(w, ''), c -> CAST(ord(c) AS BIGINT)),
               (a, b) -> (a * 31 + b) % 1000000007)) AS hs
    FROM ws_t
),
sim_t AS (
    SELECT doc_id,
           CASE WHEN len(hs) = 0 THEN 0
                ELSE CAST(list_sum(list_transform(range(0, {bits}),
                    b -> CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) > len(hs)
                              THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) END AS simhash
    FROM h_t
)
"""


_SQL_SIMHASH = _sql_simhash(16)


@register(
    "dedup_simhash",
    "WITH " + _SQL_SIMHASH + "SELECT doc_id, simhash FROM sim_t",
)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir))


@register(
    "simhash_pairs",
    "WITH "
    + _SQL_SIMHASH
    + """
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sim_t a, sim_t b
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir), max_hamming=3)


# Scale form: 28-bit sketch (2^7 buckets per pigeonhole segment) plus
# the bucket-size cap — the deployment defaults from dedup.py, both
# mirrored in the oracle (segment explode + QUALIFY bucket filter),
# so the bounded candidate generation is itself hash-verified.
_SIMHASH_WIDE_SEG_BITS = 7  # 28 bits / (max_hamming 3 + 1) segments


@register(
    "simhash_pairs_wide",
    "WITH "
    + _sql_simhash(28)
    + f""",
segs AS (
    SELECT doc_id, simhash, CAST(t.i AS INT) AS seg,
           CAST((simhash >> (t.i * {_SIMHASH_WIDE_SEG_BITS})) & {(1 << _SIMHASH_WIDE_SEG_BITS) - 1} AS INT) AS seg_val
    FROM sim_t, (SELECT unnest(range(0, 4)) AS i) t
),
segf AS (
    SELECT * FROM segs
    QUALIFY count(*) OVER (PARTITION BY seg, seg_val) <= {PROD_MAX_BUCKET_SIZE}
)
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM segf a JOIN segf b ON a.seg = b.seg AND a.seg_val = b.seg_val
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def simhash_pairs_wide_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        PROD_MAX_BUCKET_SIZE,
        SIMHASH_BITS_SCALE,
        simhash_pairs,
    )

    return simhash_pairs(
        _docs(spark, sf_dir),
        max_hamming=3,
        bits=SIMHASH_BITS_SCALE,
        max_bucket_size=PROD_MAX_BUCKET_SIZE,
    )


@register(
    "dedup_embedding",
    f"""
WITH {_SQL_EMB}
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.45
""",
)
def dedup_embedding_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    return cosine_neardup_pairs(_emb(spark, sf_dir), threshold=0.45)


@register(
    "dedup_semantic_pq",
    f"""
WITH {_SQL_EMB},
{_sql_pq_chain()},
codes_per AS (
    SELECT vec_id, CAST(to_json(list(code ORDER BY sub)) AS VARCHAR) AS codes
    FROM codes GROUP BY vec_id
)
SELECT codes, CAST(min(vec_id) AS BIGINT) AS keeper_id, count(*) AS dup_count
FROM codes_per GROUP BY codes HAVING count(*) > 1
""",
)
def dedup_semantic_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse semantic dedup by full PQ-code agreement (SemDeDup-style
    bucketing): linear encode + one hash-agg, no pairwise stage."""
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        semantic_dedup_pq,
    )

    return semantic_dedup_pq(_emb(spark, sf_dir)).select(
        F.to_json("codes").alias("codes"), "keeper_id", "dup_count"
    )


@register(
    "dedup_clusters",
    _SQL_MINHASH_BANDS
    + """,
cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT c.a_id, c.b_id
    FROM cand c
    JOIN sh_t sa ON sa.doc_id = c.a_id
    JOIN sh_t sb ON sb.doc_id = c.b_id
    WHERE round(len(list_intersect(sa.sh, sb.sh)) /
          CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE), 6) >= 0.5
),
sym AS (
    SELECT a_id AS src, b_id AS dst FROM pairs
    UNION
    SELECT b_id AS src, a_id AS dst FROM pairs
),
reach AS (
    WITH RECURSIVE r(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, e.dst FROM r JOIN sym e ON r.dst = e.src
    )
    SELECT * FROM r
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
""",
)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clustering of near-duplicates by star
    contraction (dedup.neardup_clusters; the scale ladder showed
    min-label propagation failing to converge at 200k docs). Oracle:
    transitive closure via recursive CTE."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import neardup_clusters

    return neardup_clusters(_docs(spark, sf_dir), threshold=0.5)


@register(
    "dedup_survivors",
    _SQL_MINHASH_BANDS
    + """,
cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT c.a_id, c.b_id
    FROM cand c
    JOIN sh_t sa ON sa.doc_id = c.a_id
    JOIN sh_t sb ON sb.doc_id = c.b_id
    WHERE round(len(list_intersect(sa.sh, sb.sh)) /
          CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE), 6) >= 0.5
),
sym AS (
    SELECT a_id AS src, b_id AS dst FROM pairs
    UNION
    SELECT b_id AS src, a_id AS dst FROM pairs
),
reach AS (
    WITH RECURSIVE r(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, e.dst FROM r JOIN sym e ON r.dst = e.src
    )
    SELECT * FROM r
),
clusters AS (
    SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
    FROM reach GROUP BY src
)
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM clusters WHERE cluster_id <> doc_id)
""",
)
def dedup_survivors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kept-document view after near-dup collapse: corpus minus
    non-keeper cluster members, via a broadcast left-anti join (the
    loser set is tiny relative to the corpus)."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import dedup_survivors

    return dedup_survivors(_docs(spark, sf_dir), threshold=0.5)


@register("dedup_clusters_star", None)  # oracle assigned below — identical to dedup_clusters
def dedup_clusters_star_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-contraction CC (dedup.star_components, large-star/small-
    star, O(log^2 n) rounds on any structure) under dedup_clusters'
    oracle verbatim: component-min labels, verified by the
    recursive-CTE transitive closure. Star contraction replaced
    min-label propagation after the scale ladder showed pointer
    jumping failing to converge on a 200k-doc graph; it is now the
    only CC path, so this row runs the same plan as dedup_clusters
    and keeps its registered name for the driver's inventory."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import neardup_clusters

    return neardup_clusters(_docs(spark, sf_dir), threshold=0.5)


REGISTRY["dedup_clusters_star"].oracle = REGISTRY["dedup_clusters"].oracle


@register("dedup_incremental_bloom", None)  # oracle assigned below — identical to dedup_incremental
def dedup_incremental_bloom_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production ingest: Bloom pre-gate THEN the band
    join, registered under dedup_incremental's oracle verbatim — the
    no-false-negatives guarantee as a hash-checked equality, not a
    docstring claim. Only batch docs whose band hashes hit the corpus
    bitmap (broadcast probe against the bounded word table) enter
    incremental_neardup_pairs; if the gate ever dropped a true
    near-dup, this row would mismatch."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        bands_from_shingle_sets,
        bloom_neardup_prefilter,
        incremental_neardup_pairs,
        shingle_sets,
    )

    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % _INCR_BATCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % _INCR_BATCH_MOD != 0)
    # one corpus tokenize+shingle pass (r16, see dedup_incremental_q):
    # the gate, the pair join, and the verify all derive from the
    # persisted shingle sets
    corpus_sh = cached(shingle_sets(corpus), StorageLevel.DISK_ONLY)
    corpus_bands = bands_from_shingle_sets(corpus_sh)
    gate = bloom_neardup_prefilter(batch, corpus_bands)
    batch_f = batch.join(
        gate.where(F.col("maybe_neardup")).select("doc_id"), "doc_id", "left_semi"
    )
    return incremental_neardup_pairs(batch_f, corpus_bands, corpus_sh)


REGISTRY["dedup_incremental_bloom"].oracle = REGISTRY["dedup_incremental"].oracle


@register("dedup_clusters_append", None)  # oracle assigned below — identical to dedup_clusters
def dedup_clusters_append_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cluster maintenance (dedup.cluster_append) under
    dedup_clusters' transitive-closure oracle VERBATIM: cluster the
    corpus side alone (star CC), then merge the daily batch in via the
    contracted supergraph — stored labels + (batch↔corpus pairs from
    the stored band/shingle artifacts) + (batch↔batch pairs) — and the
    result must hash-equal a from-scratch clustering of the full
    corpus. The equality holds because the pair predicate is pairwise
    (corpus-corpus pairs are baked into the stored labels; the two
    batch blocks cover the rest) and contraction preserves
    connectivity and component minima. At 100 TB this is the
    difference between re-clustering 10^9 docs nightly and solving a
    CC whose node count is the day's touched clusters."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        bands_from_shingle_sets,
        cluster_append,
        incremental_neardup_pairs,
        minhash_lsh_pairs,
        neardup_clusters,
        shingle_sets,
    )

    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % _INCR_BATCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % _INCR_BATCH_MOD != 0)
    # ONE signature pass per side (guide §2.4): the corpus artifacts
    # feed BOTH the stored clustering and the cross pair join, and the
    # batch artifacts feed BOTH the cross join and the within-batch
    # LSH — unhooked, each side's shingle→minhash lineage ran twice.
    # The band tables additionally DERIVE from the persisted shingle
    # sets (bands_from_shingle_sets, bit-identical): each side pays one
    # tokenize+shingle pass total, and the band build re-reads cached
    # arrays instead of re-shingling the text (r16, guide §2.4).
    # corpus-sized frames cache DISK_ONLY (guide §5): band and shingle
    # tables scale with the corpus, and a memory-first persist of them
    # competes with the pair joins' execution memory at 100 TB;
    # bench-neutral at sf0.1 (r16 A/B). Batch-sized frames keep the
    # default level.
    corpus_sh = cached(shingle_sets(corpus), StorageLevel.DISK_ONLY)
    corpus_bands = cached(bands_from_shingle_sets(corpus_sh), StorageLevel.DISK_ONLY)
    batch_sh = cached(shingle_sets(batch))
    batch_bands = cached(bands_from_shingle_sets(batch_sh))
    stored = neardup_clusters(
        corpus, threshold=0.5, bands_df=corpus_bands, shingles_df=corpus_sh
    )
    cross = incremental_neardup_pairs(
        batch,
        corpus_bands,
        corpus_sh,
        threshold=0.5,
        batch_bands=batch_bands,
        batch_shingles=batch_sh,
    )
    within = minhash_lsh_pairs(
        batch, threshold=0.5, bands_df=batch_bands, shingles_df=batch_sh
    )
    edges = cross.select(
        F.col("new_id").alias("src"), F.col("corpus_id").alias("dst")
    ).unionByName(
        within.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    return cluster_append(stored, edges)


REGISTRY["dedup_clusters_append"].oracle = REGISTRY["dedup_clusters"].oracle


# The right-to-be-forgotten set: every 13th doc (disjoint choice from
# the incremental family's % 7 batch split, mirrored in the oracle's
# pair predicate).
_TAKEDOWN_MOD = 13


@register(
    "dedup_takedown_recluster",
    _SQL_MINHASH_BANDS
    + f""",
cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    WHERE a.doc_id % {_TAKEDOWN_MOD} <> 0 AND b.doc_id % {_TAKEDOWN_MOD} <> 0
),
pairs AS (
    SELECT c.a_id, c.b_id
    FROM cand c
    JOIN sh_t sa ON sa.doc_id = c.a_id
    JOIN sh_t sb ON sb.doc_id = c.b_id
    WHERE round(len(list_intersect(sa.sh, sb.sh)) /
          CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE), 6) >= 0.5
),
sym AS (
    SELECT a_id AS src, b_id AS dst FROM pairs
    UNION
    SELECT b_id AS src, a_id AS dst FROM pairs
),
reach AS (
    WITH RECURSIVE r(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, e.dst FROM r JOIN sym e ON r.dst = e.src
    )
    SELECT * FROM r
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
""",
)
def dedup_takedown_recluster_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELETE path of the cluster store (dedup.cluster_takedown),
    completing the artifact's lifecycle: build (dedup_clusters_star),
    append (dedup_clusters_append), and now takedown. Every 13th doc
    is forgotten; the stored labeling is repaired by keeping untouched
    clusters VERBATIM from the parquet store and re-running star CC
    only over the touched clusters' survivors, whose pairs regenerate
    from the STORED band/shingle artifacts (semi-joins — nothing is
    re-shingled). The oracle is dedup_clusters' transitive closure
    with the takedown predicate pushed into the pair table, i.e. a
    FULL REBUILD without the forgotten docs: the hash pins that
    localized repair equals rebuild — including the hard cases where
    the removed doc was a cluster's bridge (component splits) or its
    minimum id (label changes). At 100 TB the takedown set is
    request-sized, so every stage after the store semi-joins is
    takedown-neighborhood-sized, vs a nightly corpus re-cluster."""
    import tempfile

    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        bands_from_shingle_sets,
        cluster_takedown,
        neardup_clusters,
        shingle_sets,
    )

    docs = _docs(spark, sf_dir)
    store = tempfile.mkdtemp(prefix="takedown_")
    # artifact-first store build (see dedup_upsert_relabel_q): bands/
    # shingles written once, labels clustered FROM the stored copies —
    # one signature pass instead of three, byte-identical labels.
    # The band store DERIVES from the shingle store (r16,
    # bands_from_shingle_sets — bit-identical): the corpus is
    # tokenized+shingled exactly once, and the band write re-reads
    # columnar arrays instead of re-shingling the text. (r16 negative
    # result: overlapping the two writes from driver threads measured
    # a wash across 3 A/B pairs — two HOMOGENEOUS corpus shuffle jobs
    # just contend; deriving one from the other deletes the duplicated
    # work those threads were contending over.)
    shingle_sets(docs).write.parquet(f"{store}/shingles")
    bands_from_shingle_sets(
        spark.read.parquet(f"{store}/shingles")
    ).write.parquet(f"{store}/bands")
    neardup_clusters(
        docs,
        0.5,
        bands_df=cached(spark.read.parquet(f"{store}/bands")),
        shingles_df=cached(spark.read.parquet(f"{store}/shingles")),
    ).write.parquet(f"{store}/labels")
    takedown = docs.where(F.col("doc_id") % _TAKEDOWN_MOD == 0).select("doc_id")
    return cluster_takedown(
        spark.read.parquet(f"{store}/labels"),
        takedown,
        spark.read.parquet(f"{store}/bands"),
        spark.read.parquet(f"{store}/shingles"),
        threshold=0.5,
    )


# The upsert oracle: the SAME transitive-closure rebuild, over the
# CURRENT corpus (every 13th doc re-delivered with deterministically
# edited text — three appended tokens, so its shingle set and band
# hashes genuinely change on both engines).
_SQL_CUR_MINHASH_BANDS = _SQL_MINHASH_BANDS.replace(
    "FROM documents", "FROM cdocs"
).replace(
    "WITH ",
    "WITH cdocs AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0 "
    "THEN text || ' spark spark hash' ELSE text END AS text FROM documents),\n",
    1,
)


@register(
    "dedup_upsert_relabel",
    _SQL_CUR_MINHASH_BANDS
    + """,
cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT c.a_id, c.b_id
    FROM cand c
    JOIN sh_t sa ON sa.doc_id = c.a_id
    JOIN sh_t sb ON sb.doc_id = c.b_id
    WHERE round(len(list_intersect(sa.sh, sb.sh)) /
          CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE), 6) >= 0.5
),
sym AS (
    SELECT a_id AS src, b_id AS dst FROM pairs
    UNION
    SELECT b_id AS src, a_id AS dst FROM pairs
),
reach AS (
    WITH RECURSIVE r(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, e.dst FROM r JOIN sym e ON r.dst = e.src
    )
    SELECT * FROM r
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
""",
)
def dedup_upsert_relabel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPSERT for the near-dup CLUSTER store (VERDICT r12 item 2 —
    registered from the r12-built surface): every 13th doc is
    RE-DELIVERED with edited text, and dedup.dedup_upsert re-labels
    the stored clustering as delete-then-insert — cluster_takedown's
    purge + localized re-CC against the OLD stored artifacts, then
    batch-sized edge discovery for the new text (incremental pairs vs
    the survivor store + within-batch LSH) folded in by
    cluster_append. The hash pins the headline contract, upsert ==
    from-scratch clustering of the current corpus: the oracle is
    dedup_clusters' transitive closure over the edited corpus — the
    hard cases included (an edit that BREAKS a cluster's bridge doc
    splits the component; one that creates new edges merges labels).
    Replay idempotence is pinned suite-side (see the in-row comment)
    rather than by a second in-row application.
    At 100 TB every leg is request- or batch-sized against store
    scans; no pairwise stage outside the LSH buckets."""
    import tempfile

    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        bands_from_shingle_sets,
        dedup_upsert,
        neardup_clusters,
        shingle_sets,
    )

    docs = _docs(spark, sf_dir)
    store = tempfile.mkdtemp(prefix="dedup_upsert_")
    # Build the band/shingle stores FIRST, then cluster from the
    # stored artifacts (neardup_clusters' bands_df/shingles_df hook)
    # instead of its from-text path: the signature and
    # shingle passes run ONCE instead of three times, labels are
    # byte-identical (same bands -> same pairs -> same star fixpoint;
    # measured 8.7s -> 2.8s for the labels leg at sf0.01, PLANS.md
    # r14), and the build mirrors how a production corpus actually
    # clusters — from its stored artifacts, not by re-reading text.
    # The band store derives from the shingle store (r16,
    # bands_from_shingle_sets — bit-identical): one tokenize+shingle
    # pass builds both generations' base artifacts.
    shingle_sets(docs).write.parquet(f"{store}/shingles_v1")
    bands_from_shingle_sets(
        spark.read.parquet(f"{store}/shingles_v1")
    ).write.parquet(f"{store}/bands_v1")
    stored_bands = cached(spark.read.parquet(f"{store}/bands_v1"))
    stored_shingles = cached(spark.read.parquet(f"{store}/shingles_v1"))
    neardup_clusters(
        docs, 0.5, bands_df=stored_bands, shingles_df=stored_shingles
    ).write.parquet(f"{store}/labels_v1")
    changed = docs.where(F.col("doc_id") % _TAKEDOWN_MOD == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" spark spark hash")).alias("text")
    )
    # ONE application in-row (unlike the cheap ivf/bm25/maxsim upsert
    # rows, which replay twice in-row): the dedup verb composes a
    # takedown-repair + two edge-discovery legs + append, and a second
    # in-row pass pushes the row past the 30s sweep budget. Replay
    # idempotence for THIS verb is pinned by
    # tests/test_dedup.py::test_dedup_upsert_replay_idempotent and by
    # the streaming upsert face's duplicate-delivery pin; the hash
    # here carries the headline contract, upsert == rebuild.
    return dedup_upsert(
        spark.read.parquet(f"{store}/labels_v1"),
        changed,
        spark.read.parquet(f"{store}/bands_v1"),
        spark.read.parquet(f"{store}/shingles_v1"),
        threshold=0.5,
    )


@register(
    "duplicated_spans",
    f"""
WITH ws_t AS (
    SELECT doc_id, {_SQL_TOKENS} AS ws FROM documents
),
spans AS (
    SELECT doc_id,
           md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4])) AS span_hash
    FROM ws_t, LATERAL (SELECT unnest(range(1, len(ws) - 3)) AS i) t
    WHERE len(ws) >= 5
)
SELECT span_hash,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       count(*) AS n_occurrences
FROM spans
GROUP BY span_hash
HAVING count(DISTINCT doc_id) >= 2
""",
)
def duplicated_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span detection (the exact-substring
    dedup signal from training-data curation): every 5-token span is
    hashed and grouped; spans occurring in >= 2 distinct docs are the
    boilerplate/duplication candidates. One explode + one hash-agg —
    linear at any corpus size, no pairwise stage at all (contrast the
    pair-producing dedup ops above)."""
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import tokens
    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    n = 5
    docs = spread(read_table(spark, sf_dir, "documents"))
    toks = tokens("text")
    spans = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.md5(
            F.concat_ws(" ", *[F.element_at(toks, i + k + 1) for k in range(n)])
        ),
    )
    exploded = docs.where(F.size(toks) >= n).select(
        "doc_id", F.explode(spans).alias("span_hash")
    )
    return (
        exploded.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
    )


@register(
    "dedup_span_rewrite",
    f"""
WITH ws_t AS (
    SELECT doc_id, {_SQL_TOKENS} AS ws FROM documents
),
tok_t AS (
    SELECT doc_id, CAST(t.i AS INT) - 1 AS pos, ws[CAST(t.i AS INT)] AS tok
    FROM ws_t, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) t
),
span_t AS (
    SELECT doc_id, CAST(t.i AS INT) - 1 AS i,
           md5(concat_ws(' ', ws[CAST(t.i AS INT)], ws[CAST(t.i AS INT)+1],
               ws[CAST(t.i AS INT)+2], ws[CAST(t.i AS INT)+3], ws[CAST(t.i AS INT)+4]))
               AS span_hash
    FROM ws_t, LATERAL (SELECT unnest(range(1, len(ws) - 3)) AS i) t
    WHERE len(ws) >= 5
),
dup AS (
    SELECT span_hash, CAST(min(doc_id) AS BIGINT) AS keeper
    FROM span_t GROUP BY span_hash HAVING count(DISTINCT doc_id) >= 2
),
cov AS (
    SELECT DISTINCT s.doc_id, CAST(s.i + o.k AS INT) AS pos
    FROM span_t s
    JOIN dup d USING (span_hash), LATERAL (SELECT unnest(range(0, 5)) AS k) o
    WHERE s.doc_id <> d.keeper
),
kept AS (
    SELECT t.doc_id, t.pos, t.tok
    FROM tok_t t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
    WHERE c.pos IS NULL
),
reb AS (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
           CAST(count(*) AS BIGINT) AS n_tokens_kept
    FROM kept GROUP BY doc_id
)
SELECT w.doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       CAST(coalesce(r.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
       CAST(len(w.ws) - coalesce(r.n_tokens_kept, 0) AS BIGINT) AS n_tokens_removed
FROM ws_t w LEFT JOIN reb r USING (doc_id)
""",
)
def dedup_span_rewrite_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup WITH document rewrite (Lee et al. 2022):
    each cross-doc duplicated 5-token span survives only in its
    smallest-id document; every other occurrence is deleted and the
    texts re-assembled. duplicated_spans detects; this one actually
    produces the cleaned corpus."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        span_dedup_rewrite,
    )

    return span_dedup_rewrite(_docs(spark, sf_dir))


@register(
    "dedup_semantic_append",
    f"""
WITH {_SQL_EMB},
{_sql_pq_chain(train_filter="vec_id % 7 <> 0")},
packed AS (
    SELECT vec_id, list(code ORDER BY sub) AS codes FROM codes GROUP BY vec_id
)
SELECT b.vec_id AS new_id, c.vec_id AS corpus_id
FROM packed b JOIN packed c ON b.codes = c.codes
WHERE b.vec_id % 7 = 0 AND c.vec_id % 7 <> 0
""",
)
def dedup_semantic_append_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC dedup — the embedding-tier member of the
    incremental family (pairs: dedup_incremental, bitmap:
    dedup_bloom_append, clusters: dedup_clusters_append, index:
    sim_ivf_append): PQ codebooks train ONCE on the base corpus and
    freeze in parquet; the base corpus's code table persists as the
    stored artifact; the daily batch encodes against the STORED
    codebooks (pq_encode's codebooks= hook — a pure assignment map,
    zero Lloyd lineage) and probes the stored code table with one
    equi-join on the m-code key. Batch-sized cost at any corpus size:
    the batch pays subvector split + assignment; the corpus appears
    only as its stored code table (SemDeDup at ingest time). The
    oracle trains its unrolled Lloyd chain on the base subset and
    encodes everything from scratch, so the hash pins the frozen-
    codebook equivalence AND both parquet seams (codebooks and code
    table round-trip)."""
    import tempfile

    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    emb = _emb(spark, sf_dir)
    base = emb.where(F.col("vec_id") % _INCR_BATCH_MOD != 0)
    batch = emb.where(F.col("vec_id") % _INCR_BATCH_MOD == 0)
    store = tempfile.mkdtemp(prefix="pq_append_")
    pq_codebooks(base).write.mode("overwrite").parquet(f"{store}/cb")
    cb = spark.read.parquet(f"{store}/cb")
    pq_encode(base, codebooks=cb).write.mode("overwrite").parquet(f"{store}/codes")
    stored = spark.read.parquet(f"{store}/codes")
    return (
        pq_encode(batch, codebooks=cb)
        .withColumnRenamed("vec_id", "new_id")
        .join(stored.withColumnRenamed("vec_id", "corpus_id"), "codes")
        .select("new_id", "corpus_id")
    )


@register(
    "line_dedup_rewrite",
    """
WITH paged AS (
    SELECT doc_id, replace(text, ' ', chr(10)) AS text FROM documents
),
lt AS (
    SELECT doc_id, ls[i] AS line, i AS pos FROM (
        SELECT doc_id, ls, CAST(unnest(range(1, len(ls) + 1)) AS INT) AS i
        FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
              FROM paged WHERE text IS NOT NULL)
    )
),
kept AS (
    SELECT doc_id, line, pos FROM (
        SELECT doc_id, line, pos,
               row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
        FROM lt
    ) WHERE rn = 1 OR line = ''
),
rb AS (
    SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
           CAST(count(*) AS BIGINT) AS n_lines_kept
    FROM kept GROUP BY doc_id
),
tot AS (
    SELECT doc_id, text,
           CASE WHEN text IS NULL THEN NULL
                ELSE len(string_split(text, chr(10))) END AS n_lines
    FROM paged
)
SELECT t.doc_id,
       CASE WHEN t.text IS NULL THEN NULL
            ELSE coalesce(rb.clean_text, '') END AS clean_text,
       CAST(coalesce(rb.n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
       CAST(CASE WHEN t.text IS NULL THEN 0
                 ELSE t.n_lines - coalesce(rb.n_lines_kept, 0) END AS BIGINT)
           AS n_lines_removed
FROM tot t LEFT JOIN rb ON rb.doc_id = t.doc_id
""",
)
def line_dedup_rewrite_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicate-line removal (dedup.line_dedup_rewrite):
    repeated non-empty lines keep their first occurrence, empty lines
    (paragraph structure) survive — the CCNet/C4-style page cleanup
    next to span_dedup_rewrite's cross-document span removal. Entirely
    keyed on doc_id: posexplode, one first-occurrence window, one
    ordered re-assembly; no cross-document stage. The fixture corpus
    is single-line, so both engines first re-page it (word -> line)
    to give the dedup real duplicate lines to remove; multi-line
    goldens incl. empty-line preservation live in tests/test_dedup.py."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        line_dedup_rewrite,
    )

    paged = _docs(spark, sf_dir).withColumn(
        "text", F.replace(F.col("text"), F.lit(" "), F.lit("\n"))
    )
    return line_dedup_rewrite(paged)


# ---------------------------------------------------------------------------
# Round-6 extension surface (third wave): containment dedup, bigram LM,
# label-centroid QA, rolling anomaly detection, key-skew diagnosis
# ---------------------------------------------------------------------------


@register(
    "dedup_containment",
    "WITH "
    + _SQL_SHINGLES
    + """,
ex AS (
    SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sh_t
),
cand AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           count(*) AS inter, any_value(a.n) AS n_a, any_value(b.n) AS n_b
    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id,
       round(inter / CAST(n_a AS DOUBLE), 6) AS containment_a,
       round(inter / CAST(n_b AS DOUBLE), 6) AS containment_b
FROM cand
WHERE greatest(round(inter / CAST(n_a AS DOUBLE), 6),
               round(inter / CAST(n_b AS DOUBLE), 6)) >= 0.8
""",
)
def dedup_containment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment pairs (|A n B| / |A| per direction, either
    side >= 0.8) — the asymmetric quote/subset detector Jaccard
    misses: a short doc quoted whole inside a long one has low Jaccard
    but containment ~1 on the short side (Broder's containment).
    Same shingle-equi-join candidate plan as dedup_ngram_jaccard."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import containment_pairs

    return containment_pairs(_docs(spark, sf_dir), threshold=0.8)


@register(
    "paragraph_dedup_rewrite",
    """
WITH w AS (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
    FROM documents
),
p AS (
    SELECT doc_id, pid, para FROM (
        SELECT doc_id, CAST(j AS INT) AS pid,
               array_to_string(ws[j * 5 + 1 : j * 5 + 5], ' ') AS para
        FROM (SELECT doc_id, ws,
                     unnest(range(0, greatest((len(ws) - 1) // 5, 0) + 1)) AS j
              FROM w)
    ) WHERE para <> ''
),
k AS (
    SELECT doc_id, pid, para,
           row_number() OVER (PARTITION BY para ORDER BY doc_id, pid) AS rn
    FROM p
),
kept AS (SELECT doc_id, pid, para FROM k WHERE rn = 1),
t AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras FROM p GROUP BY doc_id),
ka AS (
    SELECT doc_id, array_to_string(list(para ORDER BY pid), ' ') AS text_dedup,
           CAST(count(*) AS BIGINT) AS n_kept
    FROM kept GROUP BY doc_id
)
SELECT d.doc_id, coalesce(ka.text_dedup, '') AS text_dedup,
       CAST(coalesce(t.n_paras, 0) AS BIGINT) AS n_paras,
       CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_kept
FROM documents d LEFT JOIN t USING (doc_id) LEFT JOIN ka USING (doc_id)
""",
)
def paragraph_dedup_rewrite_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document paragraph dedup with rewrite (dedup.
    paragraph_dedup_rewrite) — the unit CCNet actually dedups at:
    every paragraph keeps its corpus-wide FIRST occurrence (smallest
    (doc, position)), later copies are removed from any document, and
    survivors re-join in document order. Completes the rewrite
    granularity ladder (span_dedup_rewrite = 50-token windows
    cross-doc, line_dedup_rewrite = lines within-doc). The fixture's
    single-line docs are re-paragraphed into 5-word groups. First
    occurrence is groupBy-min + equi-join (map-side combine, so a
    billion-copy boilerplate paragraph collapses before the shuffle
    instead of hot-spotting a window partition); paragraphing itself
    is a per-row narrow map."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        paragraph_dedup_rewrite,
    )

    return paragraph_dedup_rewrite(_docs(spark, sf_dir))


@register(
    "dedup_canonical",
    """
WITH h AS (
    SELECT doc_id,
           sha256(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                                      '\\s+', ' ', 'g'))) AS content_hash,
           sha256(text) AS raw_hash
    FROM documents
)
SELECT content_hash, CAST(min(doc_id) AS BIGINT) AS keeper_id,
       CAST(count(*) AS BIGINT) AS dup_count,
       CAST(count(DISTINCT raw_hash) AS BIGINT) AS raw_distinct
FROM h GROUP BY content_hash
""",
)
def dedup_canonical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form exact dedup (dedup.canonical_dedup): lowercase +
    strip punctuation + collapse whitespace, then the exact_dedup
    hash-agg — the normalize-then-hash tier between byte-exact dedup
    and MinHash that catches re-encoded/re-wrapped/case-mangled copies
    at hash-agg cost. raw_distinct > 1 rows are the copies ONLY
    canonicalization finds, pricing the tier against exact_dedup.
    Narrow regex chain fused into the scan; one linear hash-agg."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import canonical_dedup

    return canonical_dedup(_docs(spark, sf_dir))


@register("dedup_ngram_prefix", None)  # oracle assigned below — identical to dedup_ngram_jaccard
def dedup_ngram_prefix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard (dedup.ngram_jaccard_prefix_pairs)
    under dedup_ngram_jaccard's oracle VERBATIM — the SSJoin/PPJoin
    candidate reducer's no-false-negatives theorem (two sets with
    J >= t must share a rarity-ordered prefix token) as a per-round
    hash check: if the prefix bound ever dropped a true pair, this
    row would mismatch. The principled alternative to the
    max_shingle_freq brute cap: prefixes hold each doc's RAREST
    shingles, so the join keys are exactly the low-fanout ones, with
    zero recall loss by construction."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        ngram_jaccard_prefix_pairs,
    )

    return ngram_jaccard_prefix_pairs(_docs(spark, sf_dir), threshold=0.5)


REGISTRY["dedup_ngram_prefix"].oracle = REGISTRY["dedup_ngram_jaccard"].oracle
