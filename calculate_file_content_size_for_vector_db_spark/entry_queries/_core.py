"""Query registry backing __spark_entry__.py.

Each ``Q`` pairs a Spark DataFrame callable (spark, sf_dir) -> DataFrame
with its DuckDB oracle SQL (None for non-SQL-expressible ops -> the
driver's weaker rows-only check). Aliases are kept identical on both
sides because the driver's compare sorts columns by name before hashing.

Conventions for hash-stable parity:
- doubles rounded to 6 decimals on BOTH sides (partition-order float
  summation differences live far below 1e-6 at fixture scale);
- DuckDB integer SUM/COUNT cast to BIGINT (DuckDB sums to HUGEINT);
- division guarded: Spark try_divide <-> SQL CASE WHEN 0 THEN NULL;
- timestamps compared as formatted strings.

Fixture chunk size is 100 (not the reference's 1200, pdf_reader.py:506)
so the ~100-500 char synthetic docs yield multiple chunks per doc.
"""

from __future__ import annotations
from dataclasses import dataclass
from typing import Callable, Optional
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
    BLOOM_BITS,
    BLOOM_HASHES,
    PROD_MAX_BUCKET_SIZE,
    PROD_MAX_SHINGLE_FREQ,
)
from calculate_file_content_size_for_vector_db_spark.plans.pipeline import DocumentPipeline
from calculate_file_content_size_for_vector_db_spark.session import release_cache
from calculate_file_content_size_for_vector_db_spark.sources.io import read_table

FIXTURE_CHUNK_SIZE = 100


@dataclass
class Q:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]


# name -> query, in registration order. Family modules @register into
# it; the package re-exports this same dict. Import the package, not
# this module, so every family has registered.
REGISTRY: dict[str, Q] = {}


def register(name: str, oracle: Optional[str] = None):
    if name in REGISTRY:
        raise ValueError(f"query {name!r} is already registered")

    def deco(fn):
        import functools

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_cache(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = Q(wrapped, oracle)
        return fn

    return deco


def _pipe(spark: SparkSession) -> DocumentPipeline:
    return DocumentPipeline(spark, chunk_size=FIXTURE_CHUNK_SIZE)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    return spread(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Shared oracle SQL fragments (DuckDB dialect)
# ---------------------------------------------------------------------------

# C2/S1-S4 preprocessing chain, order per SURVEY.md Q4. In DuckDB
# single-quoted strings, backslash is literal: '\n' is the RE2 newline
# escape, '\\u' matches a literal backslash + u.
def _SQL_PREPROCESS(expr: str) -> str:
    return (
        "lower(regexp_replace(regexp_replace(regexp_replace("
        f"{expr}, '\\n{{2,}}', chr(10), 'g'), '\\n+', ' ', 'g'), "
        "'\\\\u[0-9a-fA-F]{4}', '', 'g'))"
    )


# Fixed-width chunk table over documents (chunk_size 100), processed
# content + length — mirrors DocumentPipeline.chunks minus the window.
_SQL_CHUNKS = f"""
chunk_raw AS (
    SELECT doc_id,
           CAST(unnest(range(0, CAST(ceil(length(text) / {FIXTURE_CHUNK_SIZE}.0) AS INT))) AS INT) AS chunk_index,
           text
    FROM documents
    WHERE length(text) > 0
),
chunks AS (
    SELECT doc_id,
           chunk_index,
           {_SQL_PREPROCESS(f"substring(text, chunk_index * {FIXTURE_CHUNK_SIZE} + 1, {FIXTURE_CHUNK_SIZE})")} AS content
    FROM chunk_raw
),
chunk_sized AS (
    SELECT doc_id, chunk_index, content,
           CAST(length(content) AS INT) AS chunk_length
    FROM chunks
)
"""


# ---------------------------------------------------------------------------
# Text analysis extension (SURVEY.md section 7.4; operators/textstats.py)
# ---------------------------------------------------------------------------

_SQL_TOKENS = (
    "list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')"
)


_SQL_QUALITY_CHAIN = f"""
t AS (
    SELECT doc_id, text, {_SQL_TOKENS} AS ws,
           CAST(length(text) AS DOUBLE) AS n
    FROM documents
), m AS (
    SELECT doc_id, n,
           CAST(len(ws) AS DOUBLE) AS n_toks,
           CAST(n - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) AS punct,
           CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
           CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) AS stop,
           CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS DOUBLE) AS tok_chars
    FROM t
), r AS (
    SELECT doc_id,
           round(CASE WHEN n = 0 THEN NULL ELSE punct / n END, 6) AS punct_ratio,
           round(CASE WHEN n = 0 THEN NULL ELSE alpha / n END, 6) AS alpha_ratio,
           round(CASE WHEN n_toks = 0 THEN NULL ELSE stop / n_toks END, 6) AS stopword_ratio,
           round(CASE WHEN n_toks = 0 THEN NULL ELSE tok_chars / n_toks END, 6) AS mean_word_len
    FROM m
), q AS (
    SELECT doc_id, punct_ratio, alpha_ratio, stopword_ratio, mean_word_len,
           round(1.0 - coalesce(punct_ratio, 1.0) + coalesce(stopword_ratio, 0.0), 6)
               AS quality_score
    FROM r
)
"""


# ---------------------------------------------------------------------------
# Deduplication extension (operators/dedup.py)
# ---------------------------------------------------------------------------

_SQL_SHINGLES = f"""
ws_t AS (
    SELECT doc_id, {_SQL_TOKENS} AS ws FROM documents
),
sh_t AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
    FROM ws_t
    WHERE len(ws) >= 3
)
"""


_SQL_MINHASH_BANDS = (
    "WITH "
    + _SQL_SHINGLES
    + """,
sig_t AS (
    SELECT doc_id,
           list_transform(range(0, 8),
               s -> list_min(list_transform(sh, g -> md5(CAST(s AS VARCHAR) || '|' || g)))) AS signature
    FROM sh_t
),
band_t AS (
    SELECT doc_id, signature, CAST(unnest(range(0, 4)) AS INT) AS band FROM sig_t
),
bands AS (
    SELECT doc_id, band,
           md5(signature[2*band + 1] || '|' || signature[2*band + 2]) AS band_hash
    FROM band_t
)
"""
)


# The "daily batch" split used by dedup_incremental: every 7th doc
# plays the new batch, the rest the existing corpus (mirrored in the
# oracle's candidate predicates).
_INCR_BATCH_MOD = 7


# ---------------------------------------------------------------------------
# Similarity search extension (operators/similarity.py)
# ---------------------------------------------------------------------------

_SQL_EMB = "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------------------
# Streaming surface — batch-mode equivalents (streaming/windows.py)
# ---------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# IVF ANN (operators/similarity.py): k-means centroids, assignment,
# cell search. The oracle unrolls the same Lloyd rounds as the Spark
# implementation (similarity.ivf_centroids): init = k smallest-id
# vectors, per-round rounded-cosine argmax assignment (ties -> smallest
# cell) and per-dimension avg rounded to 6 decimals.
# ---------------------------------------------------------------------------


def _sql_kmeans_chain(
    k: int = 8, iters: int = 3, src: str = "e", tag: str = "", dims: int = 64
) -> str:
    """Unrolled Lloyd chain over ``src``; ``tag`` namespaces the CTEs
    (cent{tag}{i} / assign{tag}{i}) so two trainings — e.g. the
    base-corpus store and a fresh full-corpus retrain in
    ivf_staleness — can coexist in one oracle. ``dims`` sizes the
    per-dimension centroid average (64 for the embeddings table; 16
    for the MaxSim token subvectors)."""
    parts = [
        f"cent{tag}0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cv"
        f" FROM (SELECT vec_id, v FROM {src} ORDER BY vec_id LIMIT {k}))"
    ]
    for i in range(1, iters + 1):
        prev = f"cent{tag}{i - 1}"
        parts.append(
            f"""assign{tag}{i} AS (
    SELECT vec_id, cell FROM (
        SELECT a.vec_id, c.cell,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round(list_cosine_similarity(a.v, c.cv), 6) DESC, c.cell) AS rn
        FROM {src} a, {prev} c
    ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""cent{tag}{i} AS (
    SELECT cell, list(cx ORDER BY pos) AS cv FROM (
        SELECT s.cell, t.pos AS pos, round(avg(a.v[t.pos]), 6) AS cx
        FROM {src} a JOIN assign{tag}{i} s ON a.vec_id = s.vec_id,
             (SELECT unnest(range(1, {dims + 1})) AS pos) t
        GROUP BY s.cell, t.pos
    ) GROUP BY cell
)"""
        )
    return ",\n".join(parts)


# ---------------------------------------------------------------------------
# Product quantization (operators/similarity.py pq_*): per-subspace
# k-means codebooks, the compressed code table, and ADC top-k. The
# oracle unrolls the identical Lloyd rounds per subspace: init =
# subvectors of the k smallest-id vectors; assignment by squared-L2
# rounded to 6 decimals BEFORE argmin (ties -> smallest code);
# per-dimension means rounded to 6 decimals each round. The `lut`
# CTE bakes in the query set (vec_id < 10) used by both topk queries.
# ---------------------------------------------------------------------------


def _sql_pq_chain(
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    train_filter: str | None = None,
) -> str:
    d = dim // m

    def sq(a: str, b: str) -> str:
        return (
            f"round(list_sum(list_transform(range(1, {d + 1}), "
            f"j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j]))), 6)"
        )

    # train_filter restricts the TRAINING side (seed rows, Lloyd
    # assignments and centroid updates) to a subset of e while the
    # final `codes` assignment still covers every vector — the SQL
    # mirror of pq_encode's train_df / stored-codebook path. None
    # keeps the original full-corpus chain byte-for-byte.
    tsrc = "tsv" if train_filter else "sv"
    parts = [
        f"""sv AS (
    SELECT vec_id, CAST(t.s AS INT) AS sub,
           list_slice(v, t.s * {d} + 1, t.s * {d} + {d}) AS sv
    FROM e, (SELECT unnest(range(0, {m})) AS s) t
)""",
    ]
    if train_filter:
        parts.append(f"tsv AS (SELECT * FROM sv WHERE {train_filter})")
    first_src = (
        f"(SELECT vec_id FROM e WHERE {train_filter} ORDER BY vec_id LIMIT {k})"
        if train_filter
        else f"(SELECT vec_id FROM e ORDER BY vec_id LIMIT {k})"
    )
    parts += [
        f"""firstk AS (
    SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
    FROM {first_src}
)""",
        f"cb0 AS (SELECT s.sub, f.code, s.sv AS cv FROM {tsrc} s JOIN firstk f USING (vec_id))",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""asg{i} AS (
    SELECT vec_id, sub, code FROM (
        SELECT s.vec_id, s.sub, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.sub
                   ORDER BY {sq("s.sv", "c.cv")}, c.code) AS rn
        FROM {tsrc} s JOIN cb{i - 1} c ON s.sub = c.sub
    ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""cb{i} AS (
    SELECT sub, code, list(cx ORDER BY pos) AS cv FROM (
        SELECT a.sub, a.code, t.pos AS pos, round(avg(s.sv[t.pos]), 6) AS cx
        FROM {tsrc} s JOIN asg{i} a ON s.vec_id = a.vec_id AND s.sub = a.sub,
             (SELECT unnest(range(1, {d + 1})) AS pos) t
        GROUP BY a.sub, a.code, t.pos
    ) GROUP BY sub, code
)"""
        )
    parts.append(
        f"""codes AS (
    SELECT vec_id, sub, code FROM (
        SELECT s.vec_id, s.sub, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.sub
                   ORDER BY {sq("s.sv", "c.cv")}, c.code) AS rn
        FROM sv s JOIN cb{iters} c ON s.sub = c.sub
    ) WHERE rn = 1
)"""
    )
    parts.append(
        f"""lut AS (
    SELECT s.vec_id AS query_id, c.sub, c.code, {sq("s.sv", "c.cv")} AS d2
    FROM sv s JOIN cb{iters} c ON s.sub = c.sub
    WHERE s.vec_id < 10
)"""
    )
    return ",\n".join(parts)


_DISC_REV = None  # revenue expr built inline per query (column names vary)


def _sql_bpe_chain(n_merges: int, train_where: str = "") -> str:
    """Unrolled BPE training chain (the kmeans/GD discipline applied to
    tokenizer training): r0 = char reprs of the (word, freq) dict with
    the double-space boundary invariant; each round counts adjacent
    symbol pairs, picks (count DESC, lhs, rhs) LIMIT 1, and rewrites
    reprs with the same literal replace() Spark uses — integer counts,
    so training is reproduced bit-for-bit."""
    parts = [
        f"""w0 AS (
    SELECT t AS word, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest({_SQL_TOKENS}) AS t FROM documents {{train_where}}) GROUP BY 1
)""".format(train_where=train_where),
        """r0 AS (
    SELECT word, freq,
           ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS repr
    FROM w0
)""",
    ]
    for i in range(1, n_merges + 1):
        parts.extend([
            f"""p{i} AS (
    SELECT s[j] AS l, s[j + 1] AS r, freq FROM (
        SELECT s, freq, CAST(unnest(range(1, greatest(len(s), 1))) AS INT) AS j
        FROM (SELECT string_split(trim(repr), '  ') AS s, freq FROM r{i - 1})
    )
)""",
            f"""b{i} AS (
    SELECT {i} AS rank, l AS lhs, r AS rhs, l || r AS merged,
           CAST(sum(freq) AS BIGINT) AS pair_count
    FROM p{i} GROUP BY l, r
    ORDER BY pair_count DESC, l, r LIMIT 1
)""",
            f"""r{i} AS (
    SELECT word, freq,
           replace(repr, ' ' || b.lhs || '  ' || b.rhs || ' ',
                   ' ' || b.merged || ' ') AS repr
    FROM r{i - 1} CROSS JOIN b{i} b
)""",
        ])
    return "WITH " + ",\n".join(parts)


_BPE_N = 8  # keep in sync with textstats.BPE_MERGES


# ---------------------------------------------------------------------------
# Wave 9 (round 7): trained quality classifier — hashed-bag-of-words
# logistic regression, full-batch GD unrolled in pure DataFrame ops
# (the unrolled-Lloyd pattern of the kmeans chain, same 6-decimal
# per-round rounding for bit-exact cross-engine training parity).
# ---------------------------------------------------------------------------


def _sql_hashed_features(suffix: str, src: str = "documents", buckets: int = 16) -> str:
    """CTE chain tok{s}/hb{s}/cnt{s}/nt{s}/feat{s}: the hashed-bucket
    normalized-count features of curation._hashed_features over
    ``src`` (intercept pseudo-bucket -1), shared by the training chain
    and the full-corpus scoring side of the sampled-train variant."""
    s = suffix
    return ",\n".join(
        [
            f"tok{s} AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS w FROM {src})",
            f"hb{s} AS (SELECT doc_id, CAST(list_reduce(list_transform(string_split(w, ''),"
            " c -> CAST(ord(c) AS BIGINT)), (a, b) -> (a * 31 + b) % 1000000007)"
            f" % {buckets} AS INT) AS b FROM tok{s})",
            f"cnt{s} AS (SELECT doc_id, b, count(*) AS c FROM hb{s} GROUP BY doc_id, b)",
            f"nt{s} AS (SELECT doc_id, count(*) AS n FROM hb{s} GROUP BY doc_id)",
            f"feat{s} AS (SELECT c.doc_id, c.b, c.c / CAST(n.n AS DOUBLE) AS x"
            f" FROM cnt{s} c JOIN nt{s} n USING (doc_id)"
            f" UNION ALL SELECT doc_id, -1 AS b, 1.0 AS x FROM nt{s})",
        ]
    )


def _sql_logreg_chain(
    buckets: int = 16, rounds: int = 2, lr: float = 1.0, train_src: str = "documents"
) -> str:
    """DuckDB mirror of curation.quality_classifier_weights: hashed
    features (token_hash % buckets, intercept pseudo-bucket -1) over
    ``train_src``, then ``rounds`` unrolled GD steps. Final weights
    CTE is ``wl{rounds}``; its bucket universe is the TRAINING
    corpus's (matching Spark, where unseen buckets simply have no
    weight row and contribute nothing at scoring time)."""
    parts = [
        _sql_hashed_features("q", train_src, buckets),
        f"labq AS (SELECT d.doc_id, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y"
        f" FROM {train_src} d JOIN ntq USING (doc_id))",
        "ntrq AS (SELECT CAST(count(*) AS DOUBLE) AS n_train FROM labq)",
        "wl0 AS (SELECT DISTINCT b, 0.0 AS wgt FROM featq)",
    ]
    for r in range(1, rounds + 1):
        parts += [
            f"zl{r} AS (SELECT f.doc_id, round(sum(f.x * w.wgt ORDER BY f.b), 6) AS z"
            f" FROM featq f JOIN wl{r - 1} w USING (b) GROUP BY f.doc_id)",
            f"pl{r} AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS p FROM zl{r})",
            f"gl{r} AS (SELECT f.b, round(sum(f.x * (p.p - l.y)) / ntrq.n_train, 6) AS g"
            f" FROM featq f JOIN pl{r} p USING (doc_id) JOIN labq l USING (doc_id), ntrq"
            " GROUP BY f.b, ntrq.n_train)",
            f"wl{r} AS (SELECT w.b, round(w.wgt - {lr} * COALESCE(g.g, 0.0), 6) AS wgt"
            f" FROM wl{r - 1} w LEFT JOIN gl{r} g USING (b))",
        ]
    return ",\n".join(parts)
