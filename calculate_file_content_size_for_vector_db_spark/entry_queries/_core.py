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
# Lloyd k-means quantizers (operators/similarity.py::_lloyd): IVF
# centroids and PQ codebooks. The oracle unrolls the same rounds as the
# Spark trainer: init = the points of the k smallest training ids;
# per round the nearest codeword per point (rounded score, ties ->
# smallest code), then per-dimension means rounded to 6 decimals. IVF
# ranks by cosine (descending, over one codebook), PQ by squared L2
# (ascending, one codebook per ``sub``).
# ---------------------------------------------------------------------------


# metric -> (point vector, code, codebook CTE prefix, assignment CTE
# prefix), the SQL twin of similarity._LAYOUT
_SQL_LAYOUT = {
    "cosine": ("v", "cell", "cent", "assign"),
    "sqdist": ("sv", "code", "cb", "asg"),
}


def _sql_score(metric: str, a: str, b: str, dims: int) -> str:
    """The rounded score of point vector ``a`` against codeword ``b``,
    in best-first ORDER BY form."""
    if metric == "cosine":
        return f"round(list_cosine_similarity({a}, {b}), 6) DESC"
    return (
        f"round(list_sum(list_transform(range(1, {dims + 1}), "
        f"j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j]))), 6)"
    )


def _sql_nearest(src: str, book: str, dims: int, metric: str, keys: tuple = ()) -> str:
    """SELECT of (vec_id, *keys, code): each ``src`` point's nearest
    ``book`` codeword (book columns *keys, code, cv)."""
    vec, code = _SQL_LAYOUT[metric][:2]
    s_keys = "".join(f", s.{c}" for c in keys)
    on = " AND ".join(f"s.{c} = c.{c}" for c in keys) or "true"
    return f"""SELECT vec_id{"".join(f", {c}" for c in keys)}, {code} FROM (
        SELECT s.vec_id{s_keys}, c.{code},
               row_number() OVER (PARTITION BY s.vec_id{s_keys}
                   ORDER BY {_sql_score(metric, f"s.{vec}", "c.cv", dims)}, c.{code}) AS rn
        FROM {src} s JOIN {book} c ON {on}
    ) WHERE rn = 1"""


def _sql_lloyd(
    k: int = 8,
    iters: int = 3,
    src: str = "e",
    tag: str = "",
    dims: int = 64,
    metric: str = "cosine",
    keys: tuple = (),
) -> str:
    """Unrolled Lloyd chain over ``src`` (vec_id, *keys, vector). For
    the cosine metric (IVF over (vec_id, v), ``dims`` 64 for the
    embeddings table, 16 for the MaxSim token subvectors) the CTEs are
    cent{tag}0..{iters} (cell, cv) and assign{tag}1..{iters} (vec_id,
    cell); for sqdist (PQ over (vec_id, sub, sv)) cb{tag}* (sub, code,
    cv) and asg{tag}*. ``tag`` lets two trainings — e.g. a base-corpus
    store and a fresh full-corpus retrain in ivf_staleness — coexist in
    one oracle."""
    vec, code, cent, asg = _SQL_LAYOUT[metric]
    cent, asg = cent + tag, asg + tag
    g = "".join(f"{c}, " for c in keys)
    a_g = "".join(f"a.{c}, " for c in keys)
    on = "".join(f" AND s.{c} = a.{c}" for c in keys)
    part = f"PARTITION BY {', '.join(keys)} " if keys else ""
    parts = [
        f"""{cent}0 AS (
    SELECT {g}CAST(row_number() OVER ({part}ORDER BY vec_id) - 1 AS INT) AS {code}, {vec} AS cv
    FROM {src} WHERE vec_id IN (SELECT DISTINCT vec_id FROM {src} ORDER BY vec_id LIMIT {k})
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"{asg}{i} AS (\n    {_sql_nearest(src, f'{cent}{i - 1}', dims, metric, keys)}\n)"
        )
        parts.append(
            f"""{cent}{i} AS (
    SELECT {g}{code}, list(cx ORDER BY pos) AS cv FROM (
        SELECT {a_g}a.{code}, t.pos AS pos, round(avg(s.{vec}[t.pos]), 6) AS cx
        FROM {src} s JOIN {asg}{i} a ON s.vec_id = a.vec_id{on},
             (SELECT unnest(range(1, {dims + 1})) AS pos) t
        GROUP BY {a_g}a.{code}, t.pos
    ) GROUP BY {g}{code}
)"""
        )
    return ",\n".join(parts)


def _sql_pq_chain(
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    train_filter: str | None = None,
) -> str:
    """PQ over e: the subvector table sv (vec_id, sub, sv), codebooks
    cb0..cb{iters} (sub, code, cv), the corpus code table ``codes``
    (vec_id, sub, code) and the ADC lookup table ``lut`` for the query
    set vec_id < 10. ``train_filter`` restricts training (seed ids,
    assignments and means) to a subset of e while ``codes`` still
    covers every vector — the SQL mirror of pq_encode's train_df."""
    d = dim // m
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
    book = f"cb{iters}"
    parts += [
        _sql_lloyd(k, iters, tsrc, dims=d, metric="sqdist", keys=("sub",)),
        f"codes AS (\n    {_sql_nearest('sv', book, d, 'sqdist', ('sub',))}\n)",
        f"""lut AS (
    SELECT s.vec_id AS query_id, c.sub, c.code, {_sql_score("sqdist", "s.sv", "c.cv", d)} AS d2
    FROM sv s JOIN {book} c ON s.sub = c.sub
    WHERE s.vec_id < 10
)""",
    ]
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
# (the unrolled-Lloyd pattern of _sql_lloyd, same 6-decimal
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
