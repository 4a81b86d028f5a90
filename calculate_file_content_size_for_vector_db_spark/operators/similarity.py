"""Similarity search over embedding columns (SURVEY.md section 7.4).

Two paths, both native Column expressions (no UDFs — the dot products
run inside whole-stage codegen via higher-order functions):

- Brute-force cosine top-k: query set x corpus join, windowed rank.
  Exact; quadratic. The correctness baseline and the right choice when
  the query set is small (broadcast the queries, scan the corpus once).

- LSH-bucketed ANN (random hyperplanes): each vector gets a 16-bit
  bucket from the signs of 16 deterministic pseudo-random projections;
  candidates are same-bucket only. At 100 TB: bucket assignment is a
  narrow map, the bucket join is an equi-join (shuffle on bucket id,
  bucket sizes ~N/2^16), no quadratic blowup. Recall is tunable by
  bands/probes; this implements single-probe.

Hyperplane weights are integer-arithmetic pseudo-random
(Knuth multiplicative hash mod a prime), so the DuckDB oracle
reproduces them bit-for-bit: w[p][j] = ((p*64+j)*2654435761 % 1000003)
/ 1000003 - 0.5.

Determinism: cosine is rounded to 6 decimals BEFORE ranking, ties
broken by neighbor id — so rank order is reproducible across engines
and partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.session import cached
from calculate_file_content_size_for_vector_db_spark.operators.maintenance import (
    keyed_takedown,
    keyed_upsert,
)
from calculate_file_content_size_for_vector_db_spark.partitioning import spread

N_PLANES = 16
DIM = 64
LSH_MULT = 2654435761  # Knuth multiplicative constant
LSH_PRIME = 1000003


def as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, decimals: int = 6) -> Column:
    return F.round(F.try_divide(dot(a, b), norm(a) * norm(b)), decimals)


def topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidate_filter: Column | None = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Plan shape: broadcast-worthy query side x corpus scan -> one pass;
    rank with a window partitioned by query id.

    ``candidate_filter``: optional metadata predicate on the candidate
    side only — this is the DEFINITION of exact filtered top-k (the
    ground truth the filtered ANN tiers' recall rows measure against);
    queries are never filtered."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    )
    c_src = embeddings if candidate_filter is None else embeddings.where(candidate_filter)
    c = spread(c_src).select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def nearest_neighbor(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Top-1 neighbor for EVERY vector (the all-pairs variant of
    topk_bruteforce; quadratic — fixture/verification scale only)."""
    # spread the STREAMED (left) side — cross-join output partitioning
    # follows it, so an unspread left side serializes the whole O(N^2)
    # scoring onto one task; broadcast the other side
    a = spread(embeddings).select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv"))
    b = embeddings.select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv"))
    scored = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("query_id", "neighbor_id", "cosine")
    )


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine >=
    threshold). Exact, never materializes O(N^2) rows, and scores with
    vectorized matmuls: the same block GRID as topk_grid (both sides
    packed into n_blocks array rows by a distributed agg, grid of block
    pairs joined, one numpy matmul per cell inside Arrow-batched
    mapInPandas). Only rows >= threshold leave Python; the a < b
    orientation keeps each unordered pair in exactly one grid cell.
    For sublinear candidate generation at low thresholds, pre-filter
    with lsh_buckets instead."""
    import numpy as np
    import pandas as pd

    qb = _packed_blocks(embeddings, id_col, vec_col, n_blocks, "q")
    cb = _packed_blocks(embeddings, id_col, vec_col, n_blocks, "c")
    grid = _block_grid(qb, cb, n_blocks)

    def _score(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for row in pdf.itertuples(index=False):
                qids = np.asarray(row.qids, dtype=np.int64)
                cids = np.asarray(row.cids, dtype=np.int64)
                Q = np.stack([np.asarray(v, dtype=np.float64) for v in row.qmat])
                C = np.stack([np.asarray(v, dtype=np.float64) for v in row.cmat])
                S = np.round(Q @ C.T, 6)
                ai, bj = np.nonzero(S >= threshold)
                keep = qids[ai] < cids[bj]
                out_a.extend(qids[ai][keep].tolist())
                out_b.extend(cids[bj][keep].tolist())
                out_c.extend(S[ai[keep], bj[keep]].tolist())
            yield pd.DataFrame({"a_id": out_a, "b_id": out_b, "cosine": out_c})

    return grid.mapInPandas(_score, "a_id long, b_id long, cosine double")


def _plane(p: int) -> Column:
    """Deterministic pseudo-random hyperplane p (values in [-0.5, 0.5))."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: ((j + p * DIM).cast("bigint") * LSH_MULT % LSH_PRIME)
        / F.lit(float(LSH_PRIME))
        - 0.5,
    )


def lsh_bucket_expr(v: Column) -> Column:
    """16-bit random-hyperplane signature of a (double-array) vector —
    a pure Column expression, reusable on any keyed frame (vectors
    table, chunk-embedding table, ...)."""
    bucket = F.lit(0).cast("bigint")
    for p in range(N_PLANES):
        bucket = bucket + F.when(
            dot(v, _plane(p)) > 0, F.lit(1 << p).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return bucket


def lsh_buckets(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, bucket): 16-bit random-hyperplane signature per vector."""
    embeddings = spread(embeddings)
    return embeddings.select(
        F.col(id_col), lsh_bucket_expr(as_double(vec_col)).alias("bucket")
    )


def topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    buckets: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k: exact rank restricted to same-LSH-bucket candidates.
    May return < k rows per query (single-probe recall tradeoff).

    The bucketed frame feeds both the query and candidate sides;
    persist it so the 16-plane signature runs once. Callers that
    already materialized the bucket table (ann_frontier, an index kept
    in parquet at scale) pass it via ``buckets`` so it isn't rebuilt."""
    if buckets is None:
        buckets = lsh_buckets(embeddings, id_col, vec_col)
    emb_b = cached(embeddings.join(buckets, id_col))
    q = emb_b.join(queries.select(id_col), id_col).select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv"), "bucket"
    )
    c = spread(emb_b).select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv"), "bucket"
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def topk_lsh_multiprobe(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    buckets: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k probing the query's own LSH bucket PLUS every bucket
    at hamming distance 1 (one flipped hyperplane sign) — the standard
    multi-probe recall boost without extra tables.

    Plan shape stays an equi-join: the query side explodes to its
    n_planes+1 probe buckets (all distinct, so each candidate pair
    meets on exactly one bucket — no dedup needed) and candidates
    stream through the same broadcast-query bucket join as single-probe
    topk_lsh. Candidate count ~ (n_planes+1) * N / 2^n_planes."""
    if buckets is None:
        buckets = lsh_buckets(embeddings, id_col, vec_col)
    emb_b = cached(embeddings.join(buckets, id_col))
    probe = F.explode(
        F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p).cast("bigint"))
                for p in range(N_PLANES)
            ],
        )
    )
    q = (
        emb_b.join(queries.select(id_col), id_col)
        .select(
            F.col(id_col).alias("query_id"),
            as_double(vec_col).alias("qv"),
            probe.alias("bucket"),
        )
    )
    c = spread(emb_b).select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv"), "bucket"
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Lloyd k-means quantizers: IVF cells and PQ codebooks are trained and
# applied by the same three private pieces, which differ only in the
# grouping keys and the metric.
#
# - _nearest maps points to their nearest codeword: the codebook is
#   packed into one broadcast row per ``keys`` group (one row for IVF,
#   one per subspace joined on ``sub`` for PQ), and the arg-best runs as
#   a higher-order array_max/array_min per point — a narrow map, no
#   per-point window, no shuffle;
# - _means is the per-dimension mean step: a 6-decimal avg per (group,
#   dimension), reassembled in dimension order;
# - _lloyd unrolls ``iters`` rounds of the two into the lazy plan;
#   nothing is collected (k or m*k rows flow between rounds).
#
# Determinism (the oracle, entry_queries/_core.py::_sql_lloyd, mirrors
# it bit-for-bit): the initial codewords are the points of the k
# smallest training ids; every score and every codeword component is
# rounded to 6 decimals; ties break to the smallest code. Codewords that
# attract no points in a round drop out (both engines agree).
# ---------------------------------------------------------------------------

# metric -> (point vector, codebook code, codebook vector, score). IVF
# ranks by rounded cosine, maximized, a NULL cosine (zero vector)
# scoring -2.0 so it never wins; PQ ranks by rounded L2², minimized.
_LAYOUT = {
    "cosine": ("v", "cell", "centroid", "cell_cosine"),
    "sqdist": ("sv", "code", "cv", "code_d2"),
}


def _nearest(
    points: DataFrame,
    book: DataFrame,
    id_col: str,
    keys: tuple = (),
    metric: str = "cosine",
    c: int = 1,
    keep: tuple = (),
) -> DataFrame:
    """(id, *keys, *keep, code, score): each point's nearest codeword
    (``c`` > 1: its top-``c`` codewords, one row each, for multi-probe
    search). Column names follow ``_LAYOUT[metric]``. ``keep`` columns
    pass through untouched — training carries the vector itself, and
    callers with composite keys (token bags keyed (doc_id, tok)) carry
    the extra key columns instead of packing a synthetic id."""
    vec, code, cv, score = _LAYOUT[metric]
    packed = book.groupBy(*keys).agg(F.collect_list(F.struct(code, cv)).alias("_book"))
    if metric == "cosine":
        # maximize (score, -code): the negated code sends ties to the
        # smallest code
        scored = F.transform(
            F.col("_book"),
            lambda b: F.struct(
                F.coalesce(cosine(F.col(vec), b[cv]), F.lit(-2.0)).alias("s"),
                (-b[code]).alias("o"),
            ),
        )
        best, ranked, code_of = F.array_max(scored), F.reverse(F.array_sort(scored)), -F.col("_b.o")
    else:
        scored = F.transform(
            F.col("_book"),
            lambda b: F.struct(sqdist(F.col(vec), b[cv]).alias("s"), b[code].alias("o")),
        )
        best, ranked, code_of = F.array_min(scored), F.array_sort(scored), F.col("_b.o")
    joined = (
        points.join(F.broadcast(packed), list(keys))
        if keys
        else points.crossJoin(F.broadcast(packed))
    )
    # c == 1 stays sort-free; c > 1 sorts the k structs inside codegen
    pick = best if c == 1 else F.explode(F.slice(ranked, 1, c))
    return joined.select(F.col(id_col), *keys, *keep, pick.alias("_b")).select(
        id_col, *keys, *keep, code_of.cast("int").alias(code), F.col("_b.s").alias(score)
    )


def _pack(per_dim: DataFrame, keys: tuple, out: str) -> DataFrame:
    """(*keys, out): (*keys, pos, cx) rows reassembled into one vector
    per keys group, in pos order."""
    return per_dim.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cx"))), lambda s: s["cx"]
        ).alias(out)
    )


def _means(rows: DataFrame, keys: tuple, vec: str, out: str) -> DataFrame:
    """(*keys, out): the per-dimension mean of ``vec`` over each keys
    group, every component rounded to 6 decimals (the Lloyd mean step;
    also label centroids and the power-iteration start)."""
    return _pack(
        rows.select(*keys, F.posexplode(vec).alias("pos", "x"))
        .groupBy(*keys, "pos")
        .agg(F.round(F.avg("x"), 6).alias("cx")),
        keys,
        out,
    )


def _lloyd(
    points: DataFrame,
    id_col: str,
    keys: tuple,
    metric: str,
    k: int,
    iters: int,
    train_ids: DataFrame | None = None,
) -> DataFrame:
    """(*keys, code, vector): the codebook after ``iters`` Lloyd rounds
    over ``points`` (column names per ``_LAYOUT[metric]``).

    The initial codewords are the points of the k smallest ids. With
    one point per id (IVF) that is a distributed partial top-k of the
    points; with several points per id (PQ's m subvectors)
    ``train_ids`` gives the ids, and the k smallest join back to all of
    their points. Either way the window only ever sees k rows."""
    vec, code, cv, _ = _LAYOUT[metric]
    rank = (F.row_number().over(Window.orderBy(id_col)) - 1).cast("int").alias(code)
    if train_ids is None:
        seed = points.orderBy(id_col).limit(k).select(*keys, rank, vec)
    else:
        first_k = train_ids.select(id_col).orderBy(id_col).limit(k).select(id_col, rank)
        seed = points.join(first_k, id_col)
    book = seed.select(*keys, code, F.col(vec).alias(cv))
    for _ in range(iters):
        # keep=(vec,): the vector rides through the narrow assignment
        # map — re-joining it by id (the pre-r15 shape) cost two corpus
        # exchanges + a sort-merge join per round (guide §2.4).
        # coalesce(1): the inter-round frame is k (or m*k) rows;
        # collapsing it removes a round's worth of near-empty reduce
        # tasks from the next round's broadcast build (measured
        # ~10%/training at fixture scale, PLANS.md r14; values
        # unchanged — the avg is computed BEFORE the coalesce)
        assigned = _nearest(points, book, id_col, keys, metric, keep=(vec,))
        book = _means(assigned, (*keys, code), vec, cv).coalesce(1)
    return book


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer -> cell assignment -> search
# within the probed cells. The classic scale path when LSH recall is not
# enough: the centroids are _lloyd over the full vectors (each round one
# packed 1-row broadcast map + one hash-agg), cell assignment is the
# same _nearest map, and search is an equi-join on cell id. IVF is PQ
# with one full-width subspace only up to the metric: IVF ranks by
# rounded cosine, PQ by rounded L2².
# ---------------------------------------------------------------------------

IVF_CELLS = 8
IVF_ITERS = 3


def ivf_centroids(
    embeddings: DataFrame,
    k: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, centroid): k-means centroids after ``iters`` Lloyd
    rounds of rounded-cosine assignment (_lloyd), trained in pure
    DataFrame ops (no driver-side data)."""
    v = spread(embeddings).select(F.col(id_col), as_double(vec_col).alias("v"))
    return _lloyd(v, id_col, (), "cosine", k, iters)


def ivf_append_assign(
    batch: DataFrame,
    stored_centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, cell_cosine) for a NEW ingest batch against STORED
    centroids — the write half of the parquet-backed ANN path
    (sim_topk_ivf_stored serves reads; this serves appends). No
    retraining: one pass over the batch against the packed 1-row
    centroid broadcast, so cost is batch-sized, never corpus-sized —
    the dedup_incremental contract applied to index maintenance.

    Appending the result to the stored assignment table yields exactly
    the table a from-scratch assignment over store+batch would, because
    per-vector assignment depends only on the (frozen) centroids — the
    equivalence the sim_ivf_append oracle hash-pins. The price is that
    the DATA drifts away from the frozen quantizer as appends
    accumulate; ivf_staleness measures that drift."""
    v = batch.select(F.col(id_col), as_double(vec_col).alias("v"))
    return _nearest(v, stored_centroids, id_col)


def ivf_upsert(
    stored_assign: DataFrame,
    batch: DataFrame,
    stored_centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """UPSERT into the stored IVF assignment table — the lifecycle
    verb between append (new ids) and takedown (forgotten ids): a
    re-ingested CHANGED document replaces its own index rows —
    ``keyed_upsert`` (operators/maintenance.py, the purge/replace
    contract) with the batch's assignment against the FROZEN
    centroids as the fresh rows.

    upsert == rebuild-on-current-corpus (hash-pinned by
    sim_ivf_upsert): per-vector assignment depends only on the frozen
    centroids, so replacing a vector's row with its re-assignment is
    exactly what a from-scratch assignment over (survivors + changed
    vectors) produces. The caller writes the result through
    store_swap.swap_rewrite — never over the live store in place."""
    return keyed_upsert(
        stored_assign,
        batch.select(id_col),
        ivf_append_assign(batch, stored_centroids, id_col, vec_col),
        id_col,
    )


def ivf_staleness(
    embeddings: DataFrame,
    stored_centroids: DataFrame,
    fresh_centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One row telling an operator when to rebuild an appended IVF
    store: the corpus assigned to the STORED (possibly stale)
    centroids vs a FRESH retrain on the same data —

    - ``mean_cc_stored`` / ``mean_cc_fresh``: average nearest-centroid
      cosine (quantization quality; the cosine analogue of k-means
      inertia),
    - ``cc_drift`` = fresh - stored: how much quality a rebuild buys
      (~0 -> the store is still good; large -> rebuild),
    - ``max_share_stored`` / ``max_share_fresh``: largest cell's share
      of the corpus (list balance — a skewed store makes probe-1
      search degenerate even when mean quality looks fine).

    Pinned property: zero appends (stored == trained on exactly this
    corpus) => cc_drift == 0 and identical shares, because both
    assignments are the same deterministic argmax. Cost: two
    batch-style assignment passes (each a packed 1-row broadcast map)
    plus the fresh retrain — itself sampled at 100 TB, like every
    quantizer training here."""
    if fresh_centroids is None:
        fresh_centroids = ivf_centroids(embeddings, id_col=id_col, vec_col=vec_col)

    def _stats(assigned: DataFrame, tag: str) -> DataFrame:
        per_cell = assigned.groupBy("cell").agg(F.count("*").alias("c"))
        balance = per_cell.agg(
            F.round(
                F.max("c") / F.sum("c").cast("double"), 6
            ).alias(f"max_share_{tag}")
        )
        return (
            assigned.agg(
                F.count("*").cast("long").alias(f"n_vectors_{tag}"),
                F.round(F.avg("cell_cosine"), 6).alias(f"mean_cc_{tag}"),
            )
            .crossJoin(F.broadcast(balance))
        )
    stored = _stats(
        ivf_append_assign(embeddings, stored_centroids, id_col, vec_col), "stored"
    )
    fresh = _stats(
        ivf_append_assign(embeddings, fresh_centroids, id_col, vec_col), "fresh"
    )
    return (
        stored.crossJoin(F.broadcast(fresh))
        .select(
            F.col("n_vectors_stored").alias("n_vectors"),
            "mean_cc_stored",
            "mean_cc_fresh",
            F.round(F.col("mean_cc_fresh") - F.col("mean_cc_stored"), 6).alias(
                "cc_drift"
            ),
            "max_share_stored",
            "max_share_fresh",
        )
    )


def ivf_assign(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = IVF_CELLS,
    iters: int = IVF_ITERS,
) -> DataFrame:
    """(id, cell, cell_cosine): nearest learned centroid per vector."""
    cents = ivf_centroids(embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    v = embeddings.select(F.col(id_col), as_double(vec_col).alias("v"))
    return _nearest(v, cents, id_col)


def topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: DataFrame | None = None,
    probes: int = 1,
    centroids: DataFrame | None = None,
    candidate_filter: Column | None = None,
) -> DataFrame:
    """ANN top-k with exact in-cell scoring over the query's top
    ``probes`` IVF cells (single-probe by default). Join shape:
    equi-join on cell id — candidate count ~ probes * N / n_cells.

    ``candidate_filter``: optional metadata predicate applied to the
    CANDIDATE side only (queries are never filtered) — filtered
    vector search, the standard vector-DB feature. This is the
    PRE-filter form: the predicate restricts the candidate scan
    before ranking, so the top-k is the true top-k of the filtered
    corpus (post-filtering an unfiltered top-k instead starves —
    selectivity s leaves ~s*k survivors). Declarative by design:
    Catalyst pushes the predicate into the (stored) corpus scan
    (PushedFilters) where it composes with cell pruning for free.

    Because candidates are scored by EXACT cosine, probes=2's
    candidate set contains probes=1's (top-1 cell is in the top-2),
    so recall is provably monotone in ``probes`` — the guarantee the
    ADC-scored topk_ivfpq probes lack (its pinned non-monotone
    finding). Probe cells are distinct, so the cell equi-join meets
    each (query, candidate) pair at most once — no dedup needed.

    The k-row centroid table feeds both the query side and the
    candidate side; persist IT (k rows, not the corpus) so the
    unrolled k-means lineage runs once (Spark does not dedupe common
    subplans). Each side's assignment is then a narrow broadcast map
    over its own scan (guide §2.4) — no corpus-wide persist, no
    assignment self-join, and a candidate_filter still reaches the
    parquet scan as a pushed filter. Callers with a stored assignment
    table (ann_frontier, a parquet index at scale) pass it via
    ``assign`` (its corpus-side cells are always the argmax
    assignment; only the query side multi-probes). With ``probes`` > 1
    a stored ``assign`` needs the ``centroids`` it was made with:
    retrained centroids would route queries by cells the stored
    assignment does not use, so that case raises."""
    if assign is not None and probes > 1 and centroids is None:
        raise ValueError(
            "topk_ivf with a stored assign and probes > 1 needs the centroids "
            "that assignment was made with (centroids=)"
        )
    if assign is None:
        # Inline build: train once (tiny persisted frame), assign each
        # side with the packed 1-row centroid broadcast. The pre-r15
        # shape persisted the corpus-sized (id, cell) table and joined
        # embeddings back to it by id — two corpus exchanges + an SMJ
        # for data a narrow re-map recomputes at k*dim flops/row; the
        # interim r15 shape persisted the full corpus+vector, which
        # blocked candidate_filter pushdown and holds corpus-scale
        # memory. Stored-assign callers keep the join — there the
        # store genuinely holds only (id, cell).
        if centroids is None:
            centroids = ivf_centroids(embeddings, id_col=id_col, vec_col=vec_col)
        centroids = cached(centroids)
        # the keep= pass-through threads every non-vector input column
        # through the assignment map, so the internal names would
        # collide with same-named input columns at analysis time —
        # fail loud with the cause instead (ADVICE r15)
        reserved = {"v", "cell", "cell_cosine"} & set(embeddings.columns)
        if reserved:
            raise ValueError(
                f"topk_ivf: embeddings columns {sorted(reserved)} collide with "
                "the assignment's internal names (v, cell, cell_cosine) — "
                "rename them before calling"
            )
        vv = spread(embeddings).select(
            *[F.col(c) for c in embeddings.columns if c != vec_col],
            as_double(vec_col).alias("v"),
        )
        emb_c = _nearest(
            vv, centroids, id_col, keep=tuple(c for c in vv.columns if c != id_col)
        ).drop("cell_cosine")
    else:
        emb_c = embeddings.join(assign.select(id_col, "cell"), id_col).withColumn(
            "v", as_double(vec_col)
        )
    if probes > 1:
        # one corpus⨝queries join; the vector rides through the top-c
        # assignment via keep= instead of a second join back by id
        qv = embeddings.join(queries.select(id_col), id_col).select(
            F.col(id_col), as_double(vec_col).alias("v")
        )
        q = _nearest(qv, centroids, id_col, c=probes, keep=("v",)).select(
            F.col(id_col).alias("query_id"), F.col("v").alias("qv"), "cell"
        )
    elif assign is None:
        # join the (small) query-id set first, then assign only those
        # rows — assigning the whole corpus on the query side computes
        # k*dim flops/row for rows the join immediately discards
        qv = embeddings.join(queries.select(id_col), id_col).select(
            F.col(id_col), as_double(vec_col).alias("v")
        )
        q = _nearest(qv, centroids, id_col, keep=("v",)).select(
            F.col(id_col).alias("query_id"), F.col("v").alias("qv"), "cell"
        )
    else:
        q = emb_c.join(queries.select(id_col), id_col).select(
            F.col(id_col).alias("query_id"), F.col("v").alias("qv"), "cell"
        )
    c_src = emb_c if candidate_filter is None else emb_c.where(candidate_filter)
    c = spread(c_src).select(
        F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"), "cell"
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Block-nested-loop bulk scoring: for ALL-pairs workloads the
# pair-expansion plans above materialize O(N^2) rows before ranking.
# This path packs both sides into ``n_blocks`` array rows
# (collect_list per block — a distributed agg, NOT a driver collect),
# joins query blocks x corpus blocks, and reduces each grid cell to
# its k best candidates per query, so only O(N * n_blocks * k) narrow
# rows leave the scoring step. Exact all-pairs
# scoring is inherently O(N^2) compute no matter the layout; what this
# buys at scale is (a) no driver-side corpus materialization, (b) no
# quadratic row blowup, (c) block size as the memory knob
# (block row bytes ~ (N / n_blocks) * dim * 8). For sublinear candidate
# generation switch to lsh_buckets / IVF cells above.
# ---------------------------------------------------------------------------


def unit(col: Column | str) -> Column:
    """L2-normalized copy of a vector; zero-norm maps to the zero
    vector (so any dot with it scores 0.0, matching the all-cosines-0
    convention for degenerate embeddings)."""
    v = as_double(col)
    n = norm(v)
    return F.when(n > 0, F.transform(v, lambda x: x / n)).otherwise(
        F.transform(v, lambda x: x * 0.0)
    )


def _packed_blocks(
    embeddings: DataFrame, id_col: str, vec_col: str, n_blocks: int, prefix: str
) -> DataFrame:
    """(blk, <prefix>ids, <prefix>mat): ids and unit vectors packed per
    block. The two collect_lists run in one aggregation buffer, so their
    element orders align row-for-row."""
    return (
        spread(embeddings)
        .select(F.col(id_col).alias("id"), unit(vec_col).alias("v"))
        .withColumn(f"{prefix}blk", F.pmod(F.col("id"), F.lit(n_blocks)).cast("int"))
        .groupBy(f"{prefix}blk")
        .agg(
            F.collect_list("id").alias(f"{prefix}ids"),
            F.collect_list("v").alias(f"{prefix}mat"),
        )
    )


def _block_grid(qb: DataFrame, cb: DataFrame, n_blocks: int) -> DataFrame:
    """One row per (qblk, cblk) grid cell, built as a SHUFFLE equi-join
    on the composite cell key: each packed side is exploded across the
    other side's block indices (n_blocks-fold row replication — the
    block-nested-loop IO lower bound) and hash-partitioned by cell.

    Versus ``crossJoin(broadcast(cb))``: NO side is ever broadcast
    whole, so corpus memory per executor is bounded by the cells that
    land there, not O(corpus). n_blocks is the memory knob — block row
    bytes ~ (N / n_blocks) * dim * 8 — and the SHUFFLE_HASH hint pins
    the join shape so the optimizer can't silently re-broadcast a
    packed side when fixture-scale stats undercut the threshold."""
    cells = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))  # array<int> -> int
    qx = qb.withColumn("cblk", cells)
    cx = cb.withColumn("qblk", cells)
    return (
        qx.join(cx.hint("shuffle_hash"), ["qblk", "cblk"])
        .select("qids", "qmat", "cids", "cmat")
    )


def topk_grid(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 4,
) -> DataFrame:
    """Exact top-k for every query via a distributed block GRID with
    vectorized scoring: both sides are packed into blocks (a normal
    aggregation — no driver collect/broadcast), the Qb x Cb grid of
    block pairs is the join, and each grid cell is one numpy matmul
    inside mapInPandas (Arrow-batched). Only per-cell top-k rows leave
    Python; a final reduction picks the global top k (hash-agg max for
    k=1, window otherwise). Memory per task is two block matrices —
    size n_blocks so (N / n_blocks) * dim * 8 B fits task memory and
    the Qb x Cb grid is at least the cluster parallelism; the default
    suits fixture scale."""
    import numpy as np
    import pandas as pd

    qb = _packed_blocks(queries, id_col, vec_col, n_blocks, "q")
    cb = _packed_blocks(embeddings, id_col, vec_col, n_blocks, "c")
    grid = _block_grid(qb, cb, n_blocks)

    def _score(batches):
        for pdf in batches:
            out_q, out_n, out_c = [], [], []
            for row in pdf.itertuples(index=False):
                qids = np.asarray(row.qids, dtype=np.int64)
                cids = np.asarray(row.cids, dtype=np.int64)
                Q = np.stack([np.asarray(v, dtype=np.float64) for v in row.qmat])
                C = np.stack([np.asarray(v, dtype=np.float64) for v in row.cmat])
                S = np.round(Q @ C.T, 6)
                # rank candidates per query: cosine desc, id asc
                order = np.lexsort((np.broadcast_to(cids, S.shape), -S), axis=1)
                kk = min(k + 1, S.shape[1])  # +1 slack for self-exclusion
                for qi in range(S.shape[0]):
                    top = order[qi, :kk]
                    top = top[cids[top] != qids[qi]][:k]
                    out_q.extend([int(qids[qi])] * len(top))
                    out_n.extend(int(cids[j]) for j in top)
                    out_c.extend(float(S[qi, j]) for j in top)
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    per_cell = grid.mapInPandas(
        _score, "query_id long, neighbor_id long, cosine double"
    )
    if k == 1:
        # top-1 needs no sort window: a hash-agg max over
        # struct(cosine, -id) combines map-side, one light shuffle
        return (
            per_cell.groupBy("query_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("cosine"), (-F.col("neighbor_id")).alias("negid")
                    )
                ).alias("b")
            )
            .select(
                "query_id",
                (-F.col("b.negid")).alias("neighbor_id"),
                F.col("b.cosine").alias("cosine"),
                F.lit(1).cast("int").alias("rank"),
            )
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        per_cell.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def nearest_neighbor_blocked(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Top-1 neighbor for every vector via block-grid scoring —
    same result as nearest_neighbor, without O(N^2) rows or any
    driver-side collect/broadcast of the corpus."""
    return topk_grid(embeddings, embeddings, 1, id_col, vec_col).select(
        "query_id", "neighbor_id", "cosine"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the standard ANN compression path at very
# large corpus scale (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011). The embedding space is split into
# PQ_SUBS contiguous subspaces; each subspace gets its own small
# k-means codebook; a vector is stored as PQ_SUBS one-byte codes
# (64 floats -> 4 bytes here). Search uses asymmetric distance
# computation (ADC): per query, a (sub, code) -> squared-distance
# lookup table, so scoring a corpus vector is m table lookups + adds —
# never a full-dimension dot product.
#
# Spark shape (the 100 TB design):
# - codebooks are m*k rows total — they train through the same _lloyd
#   as ivf_centroids (keyed on ``sub``, metric sqdist) and BROADCAST
#   everywhere;
# - encoding is _nearest: a broadcast equi-join on ``sub`` + argmin, no
#   shuffle beyond the subvector explode;
# - the ADC scan is an equi-join of the (id, sub, code) code table
#   against the broadcast per-query LUT, then ONE keyed aggregation
#   (map-side partial sums) — shuffle bounded by N*m code rows, which
#   are ~16x smaller than the raw vectors.
#
# Determinism (oracle parity): the Lloyd contract above, with squared
# L2 distances sequential-fold summed and rounded to 6 decimals BEFORE
# argmin/ranking, ties on the smaller code / neighbor id — mirrored
# bit-for-bit by _sql_pq_chain in entry_queries/_core.py (queries
# pq_codes / pq_topk / sim_topk_ivfpq).
# ---------------------------------------------------------------------------

PQ_SUBS = 4
PQ_CODES = 8
PQ_ITERS = 2


def sqdist(a: Column, b: Column, decimals: int = 6) -> Column:
    """Squared L2 distance, sequential-fold summation, rounded."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        decimals,
    )


def subvectors(
    embeddings: DataFrame,
    m: int = PQ_SUBS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sub, sv): the m contiguous dim/m-wide subvectors per
    vector. Narrow map (inline of a transform over 0..m-1)."""
    d = dim // m
    v = as_double(vec_col)
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.struct(
            s.cast("int").alias("sub"), F.slice(v, s * d + F.lit(1), F.lit(d)).alias("sv")
        ),
    )
    return spread(embeddings).select(F.col(id_col), F.inline(subs))


def _pq_train(
    embeddings: DataFrame,
    m: int = PQ_SUBS,
    k: int = PQ_CODES,
    iters: int = PQ_ITERS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_df: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(sv, cb): the cached subvector table plus the per-subspace
    codebooks after ``iters`` Lloyd rounds (_lloyd keyed on ``sub``,
    rounded L2²), trained in pure DataFrame ops.

    ``train_df``: optional subset to train the codebooks on. At 100 TB
    nobody runs Lloyd over the full corpus — pass a deterministic
    sample (e.g. ``emb.where(col(id) % s == 0)``) and only the sample
    pays the iterative cost; encode/search still cover every vector.
    Default None trains on the full input (the oracle-mirrored form).

    ``sv`` is cached because training re-reads it every round and
    every caller reuses it once more for the final encode."""
    sv = cached(subvectors(embeddings, m, dim, id_col, vec_col))
    if train_df is None:
        tsv, tids = sv, embeddings
    else:
        tids = train_df
        tsv = cached(sv.join(train_df.select(id_col), id_col))
    return sv, _lloyd(tsv, id_col, ("sub",), "sqdist", k, iters, train_ids=tids)


def pq_codebooks(
    embeddings: DataFrame,
    m: int = PQ_SUBS,
    k: int = PQ_CODES,
    iters: int = PQ_ITERS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_df: DataFrame | None = None,
) -> DataFrame:
    """(sub, code, cv): the trained per-subspace codebooks (one
    shared training path — _pq_train — for all PQ entry points)."""
    return _pq_train(embeddings, m, k, iters, dim, id_col, vec_col, train_df)[1]


def pq_encode(
    embeddings: DataFrame,
    m: int = PQ_SUBS,
    k: int = PQ_CODES,
    iters: int = PQ_ITERS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_df: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """(id, codes): each vector as its array of m codebook codes —
    the 16x-compressed ANN representation.

    ``codebooks``: optional pre-trained (sub, code, cv) table — the
    stored-artifact hook (the topk_ivf assign=/centroids= pattern):
    pass the parquet-stored codebooks and the encode is a pure
    assignment map with ZERO Lloyd lineage, which is how a daily
    batch encodes against a frozen quantizer, caching nothing (each
    input is read once)."""
    if codebooks is not None:
        sv = subvectors(embeddings, m, dim, id_col, vec_col)
        cb = codebooks
    else:
        sv, cb = _pq_train(embeddings, m, k, iters, dim, id_col, vec_col, train_df)
        cb = cached(cb)
    asg = _nearest(sv, cb, id_col, ("sub",), "sqdist")
    return asg.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))), lambda s: s["code"]
        ).alias("codes")
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    topk: int = 5,
    m: int = PQ_SUBS,
    k: int = PQ_CODES,
    iters: int = PQ_ITERS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_df: DataFrame | None = None,
    candidate_filter: Column | None = None,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k: rank corpus vectors by the SUM of per-subspace
    codeword distances to the query (ascending; approximate L2²).

    The per-query LUT (n_queries * m * k rows) broadcasts; the corpus
    side is only its code table. One keyed aggregation produces the
    scores; a per-query window ranks them. ``queries`` is a frame of
    ids (subset of the corpus, as in the other sim_ queries).

    ``candidate_filter``: PRE-filter on the compressed tier — a
    semi-join of the CODE TABLE against the matching metadata ids
    BEFORE the ADC scan (the quantizer still trains on the full
    corpus: the filter selects candidates, never changes the learned
    codebooks), so the ADC aggregation and ranking see only the
    filtered corpus — the true filtered ADC top-k. On a stored code
    table the id semi-join rides the code-table scan.

    ``codebooks``/``codes``: the stored-artifact hooks (topk_ivf's
    assign=/centroids= pattern): pass the parquet-stored (sub, code,
    cv) codebooks and pq_encode's packed (id, codes) table together
    and the serve pays ZERO training lineage — subvectors are built
    for the QUERY vectors only, the corpus appears solely as its
    stored code table (exploded back to (id, sub, code) rows, exact:
    codes are ints) — the offline-build / online-ADC-serve split a
    100-TB deployment actually runs."""
    if (codebooks is None) != (codes is None):
        raise ValueError(
            "pq_topk stored-serve needs BOTH codebooks and codes (got one): "
            "the LUT prices query-to-codeword distances against the same "
            "codebooks the stored code table was encoded with"
        )
    if codebooks is not None:
        cb = codebooks
        # queries only — the corpus never re-enters vector space
        sv = subvectors(
            embeddings.join(queries.select(id_col), id_col, "left_semi"),
            m, dim, id_col, vec_col,
        )
        code_rows = codes.select(
            F.col(id_col), F.posexplode("codes").alias("sub", "code")
        )
    else:
        sv, cb = _pq_train(embeddings, m, k, iters, dim, id_col, vec_col, train_df)
        cb = cached(cb)
        code_rows = _nearest(sv, cb, id_col, ("sub",), "sqdist")  # N*m code rows
    if candidate_filter is not None:
        allowed = embeddings.where(candidate_filter).select(id_col)
        code_rows = code_rows.join(allowed, id_col, "left_semi")
    codes = code_rows
    qsv = sv.join(queries.select(id_col), id_col).select(
        F.col(id_col).alias("query_id"), "sub", F.col("sv").alias("qsv")
    )
    lut = qsv.join(F.broadcast(cb), "sub").select(
        "query_id", "sub", "code", sqdist(F.col("qsv"), F.col("cv")).alias("d2")
    )
    adc = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(lut), ["sub", "code"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d2"), 6).alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "adist", "rank")
    )


def pq_upsert(
    stored_codes: DataFrame,
    batch: DataFrame,
    codebooks: DataFrame,
    m: int = PQ_SUBS,
    k: int = PQ_CODES,
    iters: int = PQ_ITERS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """UPSERT into the stored packed code table (pq_encode's (id,
    codes) output) — ivf_upsert's contract on the PQ tier, completing
    the PQ store's lifecycle next to build (pq_codebooks/pq_encode),
    stored serve (pq_topk codebooks=/codes=) and the semantic-dedup
    append (dedup_semantic_append): ``keyed_upsert`` with the batch
    encoded against the FROZEN codebooks as the fresh rows.

    upsert == re-encode of the current corpus (hash-pinned by
    sim_pq_upsert): per-vector codes depend only on the frozen
    codebooks, which never retrain on upsert (quantizer drift is the
    staleness QA's concern)."""
    fresh = pq_encode(batch, m, k, iters, dim, id_col, vec_col, codebooks=codebooks)
    return keyed_upsert(stored_codes, batch.select(id_col), fresh, id_col)


def semantic_dedup_pq(
    embeddings: DataFrame,
    m: int = PQ_SUBS,
    k: int = PQ_CODES,
    iters: int = PQ_ITERS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_df: DataFrame | None = None,
) -> DataFrame:
    """(codes, keeper_id, dup_count): SemDeDup-style coarse semantic
    dedup — vectors whose ALL m PQ codes agree are near-duplicates at
    codebook resolution. One linear encode plus one hash-agg on the
    m-byte code key (map-side partial), no pairwise stage at all: the
    100-TB first pass, with dedup_embedding as the exact within-bucket
    verifier when the cluster wants it."""
    codes = pq_encode(embeddings, m, k, iters, dim, id_col, vec_col, train_df)
    return (
        codes.groupBy("codes")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def mine_triplets(
    embeddings: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(anchor_id, positive_id, pos_cosine, negative_id, neg_cosine):
    contrastive-training triplets — per anchor, the most similar
    SAME-label vector (positive) and the most similar OTHER-label
    vector (the hard negative, the one that actually teaches the
    margin). Anchors whose label has no second member drop out.

    Plan shape: broadcast-anchors x corpus scan (the exact
    fixture-scale baseline, like topk_bruteforce); at 100 TB the
    candidate set comes from an ANN tier (topk_lsh / pq_topk /
    topk_ivfpq) instead of the full scan and this ranking applies to
    the candidates — same downstream shape, pruned input."""
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        as_double(vec_col).alias("qv"),
        F.col(label_col).alias("a_label"),
    )
    c = spread(embeddings).select(
        F.col(id_col).alias("cand_id"),
        as_double(vec_col).alias("cv"),
        F.col(label_col).alias("c_label"),
    )
    scored = (
        F.broadcast(a)
        .crossJoin(c)
        .where(F.col("anchor_id") != F.col("cand_id"))
        .select(
            "anchor_id",
            "cand_id",
            (F.col("a_label") == F.col("c_label")).alias("same"),
            cosine(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id", "same").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    best = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    pos = best.where(F.col("same")).select(
        "anchor_id",
        F.col("cand_id").alias("positive_id"),
        F.col("cosine").alias("pos_cosine"),
    )
    neg = best.where(~F.col("same")).select(
        "anchor_id",
        F.col("cand_id").alias("negative_id"),
        F.col("cosine").alias("neg_cosine"),
    )
    return pos.join(neg, "anchor_id")


def recall_vs_exact(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """(n_exact, n_hits, recall): the fraction of the exact top-k pairs
    an approximate method recovered — the accuracy number that picks
    probe counts / rerank multipliers at scale (pairs with recall@k
    curves in FAISS/ScaNN papers; the exact side is topk_bruteforce).

    Both inputs are top-k outputs keyed (query_id, neighbor_id):
    Q·k rows each, so the join is trivially small whatever physical
    strategy the planner picks; one global agg emits a single row.
    Ranking on both sides is deterministic (id tie-breaks), so the
    recall value is hash-stable and oracle-checkable."""
    hits = approx.select("query_id", "neighbor_id").withColumn("hit", F.lit(1))
    return (
        exact.select("query_id", "neighbor_id")
        .join(hits, ["query_id", "neighbor_id"], "left")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.count("hit").cast("long").alias("n_hits"),
        )
        .withColumn(
            "recall", F.round(F.col("n_hits") / F.col("n_exact").cast("double"), 6)
        )
    )


def topk_ivfpq(
    embeddings: DataFrame,
    queries: DataFrame,
    topk: int = 5,
    probes: int = 1,
    m: int = PQ_SUBS,
    k: int = PQ_CODES,
    iters: int = PQ_ITERS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_df: DataFrame | None = None,
) -> DataFrame:
    """IVF×PQ: PQ's ADC scan restricted to the query's top-``probes``
    IVF cells — the canonical billion-scale ANN layout (coarse
    quantizer prunes the corpus, product codes replace full vectors);
    ``probes`` > 1 trades proportional scan work for recall.

    Plan shape: the corpus code table carries its cell id, so the
    ADC equi-join keys on (cell, sub, code) — candidates outside the
    probed cells never leave the scan. Shuffle is bounded by the code
    rows of ``probes`` cells per query (~probes·N·m/n_cells), not the
    corpus. ``train_df``: optional deterministic sample for codebook
    training (see _pq_train)."""
    # cache the k centroid rows: with probes >= 2 they feed BOTH the
    # corpus assignment and the query-side top-c map, and an
    # uncached cents would re-run the whole unrolled Lloyd lineage
    # for the second consumer (Spark does not dedupe common subplans)
    cents = cached(ivf_centroids(embeddings, id_col=id_col, vec_col=vec_col))
    v = embeddings.select(F.col(id_col), as_double(vec_col).alias("v"))
    assign = cached(_nearest(v, cents, id_col).select(id_col, "cell"))
    sv, cb = _pq_train(embeddings, m, k, iters, dim, id_col, vec_col, train_df)
    cb = cached(cb)
    codes = _nearest(sv, cb, id_col, ("sub",), "sqdist").join(assign, id_col)
    qsv = sv.join(queries.select(id_col), id_col).select(
        F.col(id_col).alias("query_id"), "sub", F.col("sv").alias("qsv")
    )
    if probes == 1:
        qcell = assign.join(queries.select(id_col), id_col).select(
            F.col(id_col).alias("query_id"), "cell"
        )
    else:
        qv = v.join(queries.select(id_col), id_col)
        qcell = _nearest(qv, cents, id_col, c=probes).select(
            F.col(id_col).alias("query_id"), "cell"
        )
    lut = (
        qsv.join(F.broadcast(cb), "sub")
        .select("query_id", "sub", "code", sqdist(F.col("qsv"), F.col("cv")).alias("d2"))
        .join(F.broadcast(qcell), "query_id")
    )
    adc = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(lut), ["cell", "sub", "code"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d2"), 6).alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "adist", "rank")
    )


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantization: the other standard embedding
# compression next to PQ — 1 bit per dimension, 64 floats -> one
# BIGINT (64x). Scanning a candidate costs one xor + popcount on an
# 8-byte word instead of a 64-float dot product, so the compressed
# linear scan moves ~64x less data than brute force; exact cosine
# reranks only the top Hamming candidates.
# ---------------------------------------------------------------------------


def binary_sketch_expr(v: Column, lo_bit: int, n_bits: int) -> Column:
    """Sign-bit sketch word over dims [lo_bit, lo_bit + n_bits): bit
    (j - lo_bit) set when v[j] > 0. Deterministic fold from the high
    bit down (acc*2 + bit == sum of 2^j bits). Words stay <= 32 bits
    so the fold never touches the BIGINT sign bit — a full 64-bit pack
    would overflow ANSI long arithmetic at bit 63 on the Spark side
    and the left-shift range check on the DuckDB side."""
    return F.aggregate(
        F.sequence(F.lit(lo_bit + n_bits - 1), F.lit(lo_bit), F.lit(-1)),
        F.lit(0).cast("bigint"),
        lambda acc, j: acc * F.lit(2).cast("bigint")
        + F.when(
            F.element_at(v, j.cast("int") + 1) > 0, F.lit(1).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint")),
    )


def binary_sketches(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
) -> DataFrame:
    """(id, sk_lo, sk_hi): the 64-dim sign sketch as two 32-bit words
    — a narrow map; Hamming distance = popcount(xor) summed over the
    two words."""
    v = as_double(vec_col)
    return spread(embeddings).select(
        F.col(id_col),
        binary_sketch_expr(v, 0, dim // 2).alias("sk_lo"),
        binary_sketch_expr(v, dim // 2, dim - dim // 2).alias("sk_hi"),
    )


def topk_binary(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
) -> DataFrame:
    """Compressed-scan top-k: rank the corpus per query by Hamming
    distance over sign sketches (ties -> smaller id), keep the top
    ``rerank * k`` candidates, then rerank those exactly by cosine.

    Plan shape: the Hamming scan is the same broadcast-queries x
    corpus pass as topk_bruteforce but carries 8-byte sketches instead
    of 512-byte vectors; the exact stage joins only Q·rerank·k
    candidate rows back to the full vectors (query side broadcast,
    candidate side a bounded equi-join)."""
    sk = binary_sketches(embeddings, id_col, vec_col, dim)
    q = sk.join(queries.select(id_col), id_col).select(
        F.col(id_col).alias("query_id"),
        F.col("sk_lo").alias("q_lo"),
        F.col("sk_hi").alias("q_hi"),
    )
    cand = (
        F.broadcast(q)
        .crossJoin(
            sk.select(
                F.col(id_col).alias("neighbor_id"),
                F.col("sk_lo").alias("c_lo"),
                F.col("sk_hi").alias("c_hi"),
            )
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.bit_count(F.col("q_lo").bitwiseXOR(F.col("c_lo")))
                + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("c_hi")))
            )
            .cast("int")
            .alias("ham"),
        )
    )
    wham = Window.partitionBy("query_id").orderBy(F.asc("ham"), F.asc("neighbor_id"))
    top = (
        cand.withColumn("rn", F.row_number().over(wham))
        .where(F.col("rn") <= rerank * k)
        .select("query_id", "neighbor_id")
    )
    qv = embeddings.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv"))
    cv = embeddings.select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv"))
    scored = (
        top.join(F.broadcast(qv.join(queries.select(F.col(id_col).alias("query_id")), "query_id")), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Matryoshka (prefix-dimension) search: MRL-style embeddings
# (Kusupati et al. 2022) are trained so every prefix of the vector is
# itself a usable embedding — so a cheap shortlist can score only the
# first `prefix` dims (prefix/dim of the data) and an exact pass
# reranks the survivors on full vectors. The third compressed-scan
# family next to PQ (codebook) and sign-bit (1 bit/dim): this one
# needs NO training and keeps exact float arithmetic on the prefix.
# ---------------------------------------------------------------------------


def topk_matryoshka(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    prefix: int = 16,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Prefix-dim shortlist + exact rerank top-k per query.

    Plan shape: the shortlist is the same broadcast-queries x corpus
    pass as topk_bruteforce but carries ``prefix``-dim slices
    (prefix/dim of the vector bytes — 4x less data moved at
    prefix=16/64); the exact stage joins only Q-rerank-k candidate
    rows back to the full vectors (bounded equi-join, query side
    broadcast). Ties break on (rounded cosine desc, id asc) at both
    stages, so output is deterministic and oracle-checkable."""
    qs = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qfull"))
    cs = spread(embeddings).select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cfull")
    )
    shortlist = (
        F.broadcast(qs.select("query_id", F.slice("qfull", 1, prefix).alias("qp")))
        .crossJoin(cs.select("neighbor_id", F.slice("cfull", 1, prefix).alias("cp")))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qp"), F.col("cp")).alias("pcos"),
        )
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("pcos"), F.asc("neighbor_id"))
    top = (
        shortlist.withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= rerank * k)
        .select("query_id", "neighbor_id")
    )
    scored = (
        top.join(F.broadcast(qs), "query_id")
        .join(cs, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qfull"), F.col("cfull")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def dim_stats(
    embeddings: DataFrame, vec_col: str = "embedding", dim_decimals: int = 6
) -> DataFrame:
    """(dim, n, mean, std, vmin, vmax): per-dimension profile of an
    embedding column — the QA pass that catches dead dimensions
    (std ~ 0), un-normalized batches (mean drift) and fp-overflow
    spikes before vectors reach an index.

    Plan shape: posexplode to (dim, value) then ONE keyed hash-agg on
    the dim key — 64 groups however large the corpus, so the partial
    aggregation collapses everything map-side and the shuffle carries
    n_partitions x dim tiny rows. std is population std from the
    (sum, sum-of-squares) algebraic form both engines share."""
    exploded = spread(embeddings).select(
        F.posexplode(as_double(vec_col)).alias("dim", "x")
    )
    return (
        exploded.groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("x"), dim_decimals).alias("mean"),
            F.round(F.sqrt(F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x")), dim_decimals).alias("std"),
            F.round(F.min("x"), dim_decimals).alias("vmin"),
            F.round(F.max("x"), dim_decimals).alias("vmax"),
        )
        .select(F.col("dim").cast("int").alias("dim"), "n", "mean", "std", "vmin", "vmax")
    )


def label_centroid_quality(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(label, n_members, avg_cosine, min_cosine): per-label centroid
    cohesion — each label's mean vector and its members' cosine to it.
    The label-quality QA pass next to dim_stats: a low avg flags a
    noisy/heterogeneous label, a very low min flags probable
    mislabels (the signal confident-learning methods rank by).

    Plan shape: centroids come from ONE (label, dim) keyed hash-agg
    (labels x dim groups — tiny, collapses map-side) re-assembled into
    arrays by a deterministic sort; the labels-sized centroid table
    broadcasts back onto the corpus for one narrow cosine map + one
    keyed agg. Centroid components round to 6 decimals BEFORE the
    cosine so parity never rides unrounded float sums."""
    v = spread(embeddings).select(
        F.col(id_col), F.col(label_col).alias("label"), as_double(vec_col).alias("v")
    )
    cent = _means(v, ("label",), "v", "cv")
    scored = v.join(F.broadcast(cent), "label").select(
        "label", cosine(F.col("v"), F.col("cv")).alias("c")
    )
    return scored.groupBy("label").agg(
        F.count("*").cast("long").alias("n_members"),
        F.round(F.avg("c"), 6).alias("avg_cosine"),
        F.round(F.min("c"), 6).alias("min_cosine"),
    )


def range_search(
    embeddings: DataFrame,
    queries: DataFrame,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine): ALL corpus vectors within the
    cosine threshold of each query — range search, the other half of
    the vector-db query API next to top-k (radius queries back
    near-duplicate sweeps and recall-oriented retrieval where a fixed
    k under- or over-fetches).

    Plan shape: broadcast-queries x corpus scan with the threshold
    applied inside the scan projection — no window at all (range
    semantics need no ranking), so unlike top-k nothing ever
    re-partitions by query. At 100 TB the same filter applies after
    any candidate tier (LSH/IVF buckets) instead of the full scan."""
    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv"))
    c = spread(embeddings).select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv")
    )
    return (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def int8_vectors(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, qv): symmetric int8 quantization (round(127*x/maxabs)) as
    a BIGINT array. Cosine over the int vectors needs NO scale at all
    — the per-vector scale cancels in cos = dot/(|a||b|) — so the
    compressed scan is pure integer arithmetic (exact in both
    engines) with one final sqrt/divide. All-zero vectors drop (no
    direction to quantize)."""
    v = as_double(vec_col)
    s = F.array_max(F.transform(v, F.abs))
    return (
        spread(embeddings)
        .select(F.col(id_col), v.alias("_v"), s.alias("_s"))
        .where(F.col("_s") > 0)
        .select(
            id_col,
            F.transform(
                "_v", lambda x: F.round(F.lit(127.0) * x / F.col("_s")).cast("bigint")
            ).alias("qv"),
        )
    )


def topk_int8(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidate_filter: Column | None = None,
) -> DataFrame:
    """SQ8 (scalar-quantized) top-k: shortlist the corpus per query by
    int8 cosine (4x less vector data through the scan than float32,
    exact integer dot products), exact-rerank the top ``rerank * k``
    on full vectors — the scalar-quantization tier every vector store
    ships next to PQ (codebooks), binary (sign bits) and matryoshka
    (prefix dims).

    Plan shape: identical to topk_binary/topk_matryoshka — broadcast
    queries x corpus compressed scan, bounded exact-rerank equi-join;
    ties (rounded cosine, id) deterministic at both stages.

    ``candidate_filter``: optional metadata predicate on the CANDIDATE
    side only — PRE-filter semantics, applied before the compressed
    shortlist so the shortlist (and therefore the exact rerank) ranks
    the true filtered corpus. On a compressed tier the filter is a
    semi-join on the code table before scanning codes: the int8 scan
    reads only matching rows, which at 100 TB composes with parquet
    predicate pushdown on the stored code table (post-filtering the
    unfiltered shortlist instead starves — selectivity s leaves
    ~s*rerank*k survivors before rerank)."""
    c_base = embeddings if candidate_filter is None else embeddings.where(candidate_filter)
    q8 = int8_vectors(embeddings, id_col, vec_col)
    q8c = q8 if candidate_filter is None else int8_vectors(c_base, id_col, vec_col)
    q = q8.join(queries.select(id_col), id_col).select(
        F.col(id_col).alias("query_id"), F.col("qv").alias("qq")
    )
    shortlist = (
        F.broadcast(q)
        .crossJoin(q8c.select(F.col(id_col).alias("neighbor_id"), F.col("qv").alias("qc")))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(as_double("qq"), as_double("qc")).alias("qcos"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    top = (
        shortlist.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= rerank * k)
        .select("query_id", "neighbor_id")
    )
    qv = embeddings.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("fq"))
    cv = embeddings.select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("fc"))
    scored = (
        top.join(F.broadcast(qv.join(queries.select(F.col(id_col).alias("query_id")), "query_id")), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", cosine(F.col("fq"), F.col("fc")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def topk_maxsim(
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    k: int = 5,
    candidate_filter: Column | None = None,
) -> DataFrame:
    """(query_id, doc_id, maxsim, rank): MULTI-VECTOR (late-
    interaction) retrieval — ColBERT's MaxSim (Khattab & Zaharia
    2020): a doc is a BAG of token-level vectors, a query likewise,
    and

        score(q, d) = sum over query tokens t of
                      max over doc tokens u of cos(t, u)

    — the one modern vector-DB query shape a single-vector top-k
    cannot express (it preserves term-level interaction that pooled
    embeddings average away). Inputs: ``doc_tokens`` (doc_id, tok,
    tv) and ``query_tokens`` (query_id, tok, tv).

    Plan shape: the bounded query-token table broadcasts (n_queries x
    tokens rows) against ONE pass over the doc-token scan; the
    per-(query, doc, query-token) max and the per-(query, doc) sum
    are both map-side-combinable hash aggs, so the only shuffled
    frame is (n_queries x n_docs x q_tokens) score partials — never a
    doc-token x doc-token blowup. This is the exact brute baseline
    (the sim_topk_bruteforce contract applied to bags); at 100 TB the
    candidate set first shrinks through the existing IVF machinery
    over doc tokens (the PLAID/ColBERTv2 layout: probe cells per
    QUERY token, union the hit docs, then exact-MaxSim only those) —
    the scoring stages here are unchanged by that swap. Determinism:
    token cosine rounded to 6 before the max, the sum of maxes
    rounded to 6, ties (maxsim desc, doc_id asc).

    ``candidate_filter``: optional metadata predicate on the doc-token
    side only — PRE-filter semantics (the topk_bruteforce contract):
    the scan is restricted BEFORE scoring, so the result is the true
    MaxSim top-k of the filtered corpus; queries are never filtered.
    This is the exact baseline the filtered multi-vector tier
    measures against, completing the filtered matrix
    (brute/IVF/IVF-stored/SQ8/PQ/graph + MaxSim)."""
    q = query_tokens.select(
        F.col("query_id"), F.col("tok").alias("_qtok"), as_double("tv").alias("_qv")
    )
    d_base = doc_tokens if candidate_filter is None else doc_tokens.where(candidate_filter)
    d = d_base.select(
        F.col("doc_id"), as_double("tv").alias("_dv")
    )
    per_qtok = (
        d.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("doc_id"))
        .groupBy("query_id", "doc_id", "_qtok")
        .agg(F.max(cosine(F.col("_qv"), F.col("_dv"))).alias("_m"))
    )
    pair = per_qtok.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("_m"), 6).alias("maxsim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("maxsim"), F.asc("doc_id"))
    return (
        pair.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "maxsim", "rank")
    )


def topk_maxsim_ivf(
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    k: int = 5,
    probes: int = 2,
    n_cells: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    tokens_per_doc: int = 4,
) -> DataFrame:
    """topk_maxsim's SCALE path — the PLAID/ColBERTv2 layout: an IVF
    quantizer trains over the DOC TOKEN vectors, every doc token is
    assigned to its argmax cell (the stored token index), each QUERY
    token probes its top-``probes`` cells, and the candidate docs —
    any doc holding a token in a probed cell — are then scored by
    EXACT MaxSim over all their tokens. Candidate generation is the
    ordinary cell equi-join (probes x n_tokens / n_cells of the token
    table per query token); exact rescoring touches only candidate
    docs' tokens, so the brute (queries x corpus) token product never
    materializes. Exact rescoring of a candidate SUPERSET can only
    improve the served ranking, the same monotonicity argument as the
    exact IVF probes — and the candidate set grows with ``probes``,
    so recall is probe-monotone here too.

    ``tokens_per_doc`` builds the synthetic unique token id
    (doc_id * tokens_per_doc + tok) the quantizer keys on; callers
    with ragged bags pass any value exceeding the max token ordinal.

    Composition: train, then delegate to the lifecycle halves —
    maxsim_token_index (write) + topk_maxsim_from_index (read) — so
    the inline row and the stored-index path are the same code, the
    identity tests/test_maxsim_lifecycle.py pins."""
    dt = doc_tokens.select(
        (F.col("doc_id") * tokens_per_doc + F.col("tok")).alias("_tid"),
        as_double("tv").alias("v"),
    )
    cents = ivf_centroids(dt, k=n_cells, iters=iters, id_col="_tid", vec_col="v")
    index = maxsim_token_index(doc_tokens, cents, tokens_per_doc)
    return topk_maxsim_from_index(index, query_tokens, cents, k, probes, tokens_per_doc)


def maxsim_token_index(
    doc_tokens: DataFrame,
    stored_centroids: DataFrame,
    tokens_per_doc: int = 4,
) -> DataFrame:
    """(doc_id, tok, tv, cell): the STORED token index behind the
    PLAID-style MaxSim serve — every doc token assigned to its argmax
    cell against FROZEN centroids. This is the write half of the
    multi-vector lifecycle (the ivf_append_assign contract applied to
    token bags): no retraining, one packed 1-row centroid broadcast
    over the batch's tokens, so the cost is batch-sized — building
    the full index and appending a daily batch are the SAME operator
    at different input sizes. Per-token assignment depends only on
    the frozen centroids, so store + index(batch) == index(store's
    docs + batch's docs) exactly — the equivalence every lifecycle
    verb below leans on.

    ``tokens_per_doc`` is retained for signature stability with the
    quantizer-training helper (topk_maxsim_ivf derives unique ids for
    k-means init from it) but no longer affects assignment: the
    token key is carried as (doc_id, tok) directly through
    _nearest's ``keep`` pass-through, so ragged bags with
    tok >= tokens_per_doc can no longer collide (ADVICE r12)."""
    del tokens_per_doc  # see docstring — assignment keys (doc_id, tok)
    dt = doc_tokens.select("doc_id", "tok", as_double("tv").alias("v"))
    return _nearest(dt, stored_centroids, "doc_id", keep=("tok", "v")).select(
        "doc_id", "tok", F.col("v").alias("tv"), "cell"
    )


def maxsim_upsert(
    token_index: DataFrame,
    batch_tokens: DataFrame,
    stored_centroids: DataFrame,
    tokens_per_doc: int = 4,
) -> DataFrame:
    """UPSERT a re-embedded doc's WHOLE token bag into the stored
    MaxSim token index — ``keyed_upsert`` on doc_id with the batch's
    tokens assigned against the frozen centroids as the fresh rows,
    the ivf_upsert contract extended to multi-vector stores. Token
    rows are keyed by their own doc only, so ``keyed_takedown`` on
    doc_id alone is the complete purge of this store (no graph-style
    ghost direction exists). Replacing the bag wholesale (rather than
    diffing token ordinals) is the correct unit: a re-embedding
    changes every token vector, and a doc whose new bag is SHORTER
    must not keep stale tail tokens — the purge by doc_id guarantees
    it cannot. upsert == rebuild-on-current-corpus (test-pinned): per-
    token assignment depends only on the frozen centroids."""
    return keyed_upsert(
        token_index,
        batch_tokens.select("doc_id"),
        maxsim_token_index(batch_tokens, stored_centroids, tokens_per_doc),
        "doc_id",
    )


def topk_maxsim_from_index(
    token_index: DataFrame,
    query_tokens: DataFrame,
    stored_centroids: DataFrame,
    k: int = 5,
    probes: int = 2,
    tokens_per_doc: int = 4,
    candidate_filter: Column | None = None,
) -> DataFrame:
    """(query_id, doc_id, maxsim, rank): serve MaxSim from the STORED
    token index — the read half of the multi-vector lifecycle, split
    from topk_maxsim_ivf (which trains + indexes + serves inline)
    exactly as sim_topk_ivf_stored splits from sim_topk_ivf. Each
    query token probes its top-``probes`` cells against the SAME
    frozen centroids the index was assigned with, candidate docs are
    any doc holding a token in a probed cell (the ordinary cell
    equi-join over the stored index), and candidates are exact-MaxSim
    rescored from the index's own token vectors — the brute
    (queries x corpus) token product never materializes, and the
    serve path touches no training. Determinism matches topk_maxsim:
    cosine rounded to 6 before the max, sum rounded to 6, ties
    (maxsim desc, doc_id asc).

    ``candidate_filter``: optional metadata predicate on the stored
    token index — PRE-filter semantics, applied BEFORE candidate
    generation AND rescoring, so the served ranking is the
    PLAID-pruned top-k of the FILTERED corpus (a post-filtered
    unfiltered shortlist instead starves at selectivity s — the same
    argument as every other filtered tier). Declarative, so Catalyst
    pushes it into the stored index's parquet scan next to the cell
    equi-join; full-probe composition == topk_maxsim with the same
    filter (test-pinned)."""
    del tokens_per_doc  # query tokens key (query_id, _qtok) directly
    idx = token_index if candidate_filter is None else token_index.where(candidate_filter)
    qt = query_tokens.select(
        "query_id", F.col("tok").alias("_qtok"), as_double("tv").alias("v")
    )
    qcells = _nearest(qt, stored_centroids, "query_id", c=probes, keep=("_qtok", "v"))
    cand = (
        qcells.select("query_id", "cell")
        .join(idx.select("doc_id", "cell"), "cell")
        .where(F.col("query_id") != F.col("doc_id"))
        .select("query_id", "doc_id")
        .distinct()
    )
    per_qtok = (
        cand.join(qt.select("query_id", "_qtok", F.col("v").alias("_qv")), "query_id")
        .join(idx.select("doc_id", F.col("tv").alias("_dv")), "doc_id")
        .groupBy("query_id", "doc_id", "_qtok")
        .agg(F.max(cosine(F.col("_qv"), F.col("_dv"))).alias("_m"))
    )
    pair = per_qtok.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("_m"), 6).alias("maxsim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("maxsim"), F.asc("doc_id"))
    return (
        pair.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "maxsim", "rank")
    )


def rrf_fuse(
    lexical: DataFrame,
    vector: DataFrame,
    k_rrf: int = 60,
    topn: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a vector ranking — the
    standard hybrid-search combiner (Cormack/Clarke/Buettcher 2009;
    what vector stores ship as "hybrid query"):

        rrf(d) = sum over systems s ranking d of 1 / (k_rrf + rank_s(d))

    Inputs are any two (query_id, doc_id, rank) frames — the fusion is
    rank-based, so the vector side can come from ANY retrieval tier
    (brute force at fixture scale; LSH/IVF/PQ/binary at 100 TB) without
    changing this operator. Output keeps each side's rank (nullable —
    a doc found by only one system scores with one term).

    Plan shape: both inputs are candidate lists (n_queries x topn
    rows), so the FULL OUTER merge-by-(query_id, doc_id) and the final
    per-query window are candidate-sized — nothing here scales with
    the corpus. Determinism: ranks are exact ints, rrf is a sum of at
    most two 1/(k+r) doubles evaluated in a fixed order, rounded to 6;
    final ties break (score desc, doc_id asc).
    """
    lex = lexical.select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rank").cast("int").alias("lex_rank"),
    )
    vec = vector.select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rank").cast("int").alias("vec_rank"),
    )
    fused = lex.join(vec, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(k_rrf) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(k_rrf) + F.col("vec_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
        "lex_rank",
        "vec_rank",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= topn)
        .select("query_id", "doc_id", "rrf_score", "lex_rank", "vec_rank", "rank")
    )


def ivf_list_stats(
    embeddings: DataFrame,
    n_cells: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, list_size, corpus_share, balance_ratio): the inverted-
    list size profile of the IVF index — the build-time QA pass that
    decides whether the coarse quantizer is usable before anything is
    served from it. balance_ratio = list_size / (N / n_live_cells);
    a cell far above 1 concentrates scan cost (and, at 100 TB, task
    skew) on itself, the signal to retrain or split.

    balance_ratio alone can't flag a COLLAPSED quantizer: with all
    vectors in 1-2 live cells it normalizes by those live cells and
    reads ~1.0 — perfectly balanced. dead_cells (requested n_cells
    minus live cells, constant across rows) exposes that pathology
    directly: dead_cells near n_cells means the quantizer degenerated
    no matter how even the survivors look.

    Plan shape: the assignment table collapses map-side into one
    n_cells-group hash-agg; the 1-row totals broadcast back. Nothing
    here is corpus-sized after the assignment pass the index build
    already paid for."""
    sizes = (
        ivf_assign(embeddings, id_col=id_col, vec_col=vec_col, k=n_cells, iters=iters)
        .groupBy("cell")
        .agg(F.count("*").alias("list_size"))
    )
    totals = sizes.agg(
        F.sum("list_size").cast("double").alias("n"),
        F.count("*").cast("double").alias("n_live"),
    )
    return sizes.crossJoin(F.broadcast(totals)).select(
        F.col("cell").cast("int").alias("cell"),
        F.col("list_size").cast("long").alias("list_size"),
        F.round(F.col("list_size") / F.col("n"), 6).alias("corpus_share"),
        F.round(F.col("list_size") * F.col("n_live") / F.col("n"), 6).alias("balance_ratio"),
        (F.lit(n_cells) - F.col("n_live")).cast("int").alias("dead_cells"),
    )


def pq_reconstruction_error(
    embeddings: DataFrame,
    m: int = PQ_SUBS,
    k: int = PQ_CODES,
    iters: int = PQ_ITERS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_df: DataFrame | None = None,
) -> DataFrame:
    """(sub, n_subvectors, avg_sq_error, max_sq_error): per-subspace
    quantization distortion of the trained PQ codebooks — the index-
    quality twin of the recall@k queries. Recall measures the served
    ranking; this measures the representation itself (avg/max squared
    L2 between each subvector and its assigned codeword), the number
    that decides m and k before an index is built at scale.

    Plan shape: reuses the shared _pq_train path (sampled via
    ``train_df`` at 100 TB), then the encode map, whose score IS the
    squared error to the assigned codeword, and one m-group hash-agg
    that collapses map-side. Linear in the corpus, no pairwise
    stage."""
    sv, cb = _pq_train(embeddings, m, k, iters, dim, id_col, vec_col, train_df)
    err = _nearest(sv, cb, id_col, ("sub",), "sqdist").select(
        "sub", F.col("code_d2").alias("d2")
    )
    return err.groupBy("sub").agg(
        F.count("*").cast("long").alias("n_subvectors"),
        F.round(F.avg("d2"), 6).alias("avg_sq_error"),
        F.round(F.max("d2"), 6).alias("max_sq_error"),
    ).select(F.col("sub").cast("int").alias("sub"), "n_subvectors", "avg_sq_error", "max_sq_error")


def ann_frontier(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(tier, candidate_rows, n_exact, n_hits, recall): the
    recall-vs-work frontier of the EXACT-SCORING candidate-pruned ANN
    tiers in one frame — bruteforce (the recall=1 anchor), single-
    bucket LSH, multi-probe LSH, and IVF at 1 and 2 probes.
    candidate_rows
    is the number of (query, corpus-vector) pairs the tier actually
    scores (exactly what its topk join materializes), so tier
    selection at 100 TB is a lookup: pick the cheapest tier whose
    recall clears the product bar, then scale candidate_rows by the
    real corpus/query volume.

    Because these tiers rank their candidates by EXACT cosine, a tier
    whose candidate set contains another's can only match or beat its
    recall (multi-probe >= single-probe LSH; IVF probe2 >= probe1;
    bruteforce >= all) — the
    monotone-frontier property pinned in tests. The ADC-scored tiers
    (PQ / IVFxPQ) deliberately live OUTSIDE this frame: their
    compressed scoring breaks the guarantee (the honestly-pinned
    non-monotone probe finding), and their frontier rows come from the
    tools/ann_frontier.py exhibit next to their own recall queries.

    Plan shape: one exact top-k (Q·N scored pairs — Q is 10 here; at
    scale the ground-truth side is always a small labeled query
    sample), one LSH bucket table and one IVF assignment table, each
    persisted and reused by both the tier's top-k and its candidate
    COUNT (the IVF centroids likewise train once for probe2's query
    assignment and top-k); every per-tier result is a 1-row aggregate,
    so the union is 5 rows and every join below the aggregates is
    keyed.
    """
    emb = spread(embeddings)
    qids = queries.select(id_col)
    exact = topk_bruteforce(embeddings, queries, k=k, id_col=id_col, vec_col=vec_col)

    def row(tier: str, cand: DataFrame, approx: DataFrame) -> DataFrame:
        rec = recall_vs_exact(exact, approx)
        return rec.crossJoin(F.broadcast(cand)).select(
            F.lit(tier).alias("tier"),
            F.col("c").cast("long").alias("candidate_rows"),
            "n_exact",
            "n_hits",
            "recall",
        )

    # bruteforce: every query scores every other vector
    bf_cand = (
        qids.agg(F.count("*").alias("qn"))
        .crossJoin(F.broadcast(emb.agg(F.count("*").alias("nn"))))
        .select((F.col("qn") * (F.col("nn") - 1)).alias("c"))
    )

    buckets = cached(lsh_buckets(embeddings, id_col, vec_col))
    qb = buckets.join(qids, id_col).select(F.col(id_col).alias("qid"), "bucket")
    lsh_cand = (
        qb.join(buckets, "bucket")
        .where(F.col("qid") != F.col(id_col))
        .agg(F.count("*").alias("c"))
    )
    # multi-probe: own bucket + every 1-bit flip — all 17 probe buckets
    # are distinct, so the equi-join counts each candidate once; the
    # query itself appears only in its own bucket (subtract Q rows)
    probes = F.explode(
        F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p).cast("bigint"))
                for p in range(N_PLANES)
            ],
        )
    )
    qmp = buckets.join(qids, id_col).select(
        F.col(id_col).alias("qid"), probes.alias("bucket")
    )
    mp_cand = (
        qmp.join(buckets, "bucket")
        .where(F.col("qid") != F.col(id_col))
        .agg(F.count("*").alias("c"))
    )

    assign = cached(ivf_assign(embeddings, id_col, vec_col).select(id_col, "cell"))
    qa = assign.join(qids, id_col).select(F.col(id_col).alias("qid"), "cell")
    ivf_cand = (
        qa.join(assign, "cell")
        .where(F.col("qid") != F.col(id_col))
        .agg(F.count("*").alias("c"))
    )
    # ivf probe2: the query's top-2 coarse cells (exact-scored, so the
    # probe1-subset guarantee holds); centroids trained once, shared
    # with the probe2 top-k below
    cents = cached(ivf_centroids(embeddings, id_col=id_col, vec_col=vec_col))
    qv = embeddings.join(qids, id_col).select(F.col(id_col), as_double(vec_col).alias("v"))
    q2 = _nearest(qv, cents, id_col, c=2).select(
        F.col(id_col).alias("qid"), "cell"
    )
    ivf2_cand = (
        q2.join(assign, "cell")
        .where(F.col("qid") != F.col(id_col))
        .agg(F.count("*").alias("c"))
    )

    out = (
        row("bruteforce", bf_cand, exact)
        .unionByName(
            row(
                "lsh",
                lsh_cand,
                topk_lsh(embeddings, queries, k, id_col, vec_col, buckets=buckets),
            )
        )
        .unionByName(
            row(
                "lsh_multiprobe",
                mp_cand,
                topk_lsh_multiprobe(
                    embeddings, queries, k, id_col, vec_col, buckets=buckets
                ),
            )
        )
        .unionByName(
            row(
                "ivf",
                ivf_cand,
                topk_ivf(embeddings, queries, k, id_col, vec_col, assign=assign),
            )
        )
        .unionByName(
            row(
                "ivf_probe2",
                ivf2_cand,
                topk_ivf(
                    embeddings,
                    queries,
                    k,
                    id_col,
                    vec_col,
                    assign=assign,
                    probes=2,
                    centroids=cents,
                ),
            )
        )
    )
    return out


def topk_graph(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k_graph: int = 8,
    beam: int = 16,
    hops: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    edges: DataFrame | None = None,
    scored_candidates: bool = False,
    entry_ids: DataFrame | None = None,
    candidate_filter: Column | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): GRAPH-based ANN — greedy
    beam search over the exact kNN graph (the NSW/HNSW base-layer
    idea, Malkov & Yashunin 2018, flattened to a fixed ``hops``-round
    unroll): start every query at a deterministic entry node, expand
    the current beam's out-edges each hop, score candidates by EXACT
    cosine against the query, and keep the best ``beam``. The last
    missing index family next to IVF/LSH/PQ/binary/SQ8/matryoshka —
    and, unlike them, its per-query search cost depends only on
    (hops x beam x k_graph), never on the corpus or any cell size.

    Entry point: the corpus's smallest id — or the second-smallest for
    that vector's own query (a query never visits itself, mirrored by
    the node <> query_id filter every hop). Determinism: cosine
    rounded to 6 BEFORE ranking, ties break on node id — identical in
    the unrolled SQL chain.

    Plan shape: the graph build (``edges`` = per-node exact top-
    ``k_graph``, topk_grid) is the expensive, ONCE-per-corpus stage —
    at 100 TB it comes from an approximate builder (IVF-candidate
    kNN) or a stored table via the ``edges`` hook, the same
    train-once/store/serve contract as sim_topk_ivf_stored. Search is
    ``hops`` unrolled rounds, each: one candidate-sized equi-join on
    the edge key, one dedup, one embedding lookup join, one
    beam-window — every frame (queries x beam x k_graph) rows. Fixed
    small round count with single back-references keeps the lazy plan
    linear (the kmeans-chain discipline; no checkpoint needed).

    ``scored_candidates=True`` returns, instead of the answer, the
    lazy union of every (query_id, node) pair the search SCORES
    (entry + each hop's candidate frame, duplicates across hops kept
    — each is re-scored) — the frontier exhibit's work metric.

    ``candidate_filter``: FILTERED graph search, ACORN-style
    expand-then-filter (Patel et al. 2024, the public pattern for
    predicate + graph ANN). A filter applied DURING navigation breaks
    navigability — at selectivity s the filtered out-degree drops to
    ~s*k_graph and the beam strands in components with no matching
    nodes, which is why naive in-walk filtering (and post-filtering
    an unfiltered top-k, which leaves ~s*k survivors) both starve.
    Here the beam walks the graph UNFILTERED (non-matching nodes
    remain routing waypoints), and the answer is the exact-cosine
    top-k over the VISITED set restricted to the predicate — every
    node the search scored is a candidate, so filtered recall decays
    with selectivity only through visit coverage, never through
    navigation loss. Cost: identical walk + one semi-join of the
    (queries x visited) frame against the filtered id set — the
    predicate stays declarative, so it pushes into the metadata scan."""
    inline_build = edges is None
    if inline_build:
        # persist: every hop's equi-join back-references the edge frame,
        # and an UNPERSISTED lazy build re-runs the whole topk_grid
        # block-matmul once per hop (measured 12.0s -> ~6s at sf0.01,
        # hops=3). A caller-passed store is already materialized.
        edges = cached(topk_grid(
            embeddings, embeddings, k=k_graph, id_col=id_col, vec_col=vec_col
        ))
    ed = edges.select(
        F.col("query_id").alias("_src"), F.col("neighbor_id").alias("_dst")
    )
    e = embeddings.select(F.col(id_col).alias("_nid"), as_double(vec_col).alias("_nv"))
    qv = (
        embeddings.join(queries.select(id_col), id_col)
        .select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qv"))
    )
    # ``entry_ids``: the id universe the entry points come from —
    # defaults to the corpus; a purged edge store passes the SURVIVOR
    # ids so a beam can never START at a forgotten node (the one leak
    # path edge deletion alone cannot close, since the entry frame
    # never consults the edge table).
    mins = (
        (entry_ids if entry_ids is not None else embeddings)
        .select(id_col)
        .orderBy(id_col)
        .limit(2)
        .agg(F.min(id_col).alias("_m1"), F.max(id_col).alias("_m2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("node"))
    b = (
        qv.crossJoin(F.broadcast(mins))
        .select(
            "query_id",
            "_qv",
            F.when(F.col("query_id") == F.col("_m1"), F.col("_m2"))
            .otherwise(F.col("_m1"))
            .alias("node"),
        )
        .join(e, F.col("node") == F.col("_nid"))
        .select("query_id", "_qv", "node", cosine(F.col("_qv"), F.col("_nv")).alias("cosine"))
    )
    scored_frames = [b.select("query_id", "node")]
    for _ in range(hops):
        nbr = b.join(ed, b["node"] == ed["_src"]).select(
            "query_id", F.col("_dst").alias("node")
        )
        cand = (
            b.select("query_id", "node")
            .unionByName(nbr)
            .where(F.col("node") != F.col("query_id"))
            .dropDuplicates(["query_id", "node"])
        )
        scored_frames.append(cand)
        b = (
            cand.join(qv, "query_id")
            .join(e, F.col("node") == F.col("_nid"))
            .select("query_id", "_qv", "node", cosine(F.col("_qv"), F.col("_nv")).alias("cosine"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= beam)
            .drop("_rn")
        )
        if inline_build:
            # cap the beam's plan growth: each hop back-references b
            # 2x, so the lazy lineage re-embeds every earlier hop's
            # join+window chain ~2^hops times over the INLINE edge
            # build. Checkpointing the (queries x beam)-row frontier
            # per hop measured ×1.61 on sim_topk_graph (7.57s->4.70s
            # interleaved, r16). Stored-edges callers stay lazy: their
            # lineage is shallow (one materialized store scan per hop)
            # and the same checkpoint measured ×0.82 on
            # sim_graph_takedown_repair — three eager barrier jobs
            # cost more than the thin plan they truncate.
            b = b.localCheckpoint(eager=True)
    if scored_candidates:
        out = scored_frames[0]
        for f in scored_frames[1:]:
            out = out.unionByName(f)
        return out
    if candidate_filter is not None:
        visited = scored_frames[0]
        for f in scored_frames[1:]:
            visited = visited.unionByName(f)
        allowed = embeddings.where(candidate_filter).select(F.col(id_col).alias("node"))
        b = (
            visited.dropDuplicates(["query_id", "node"])
            .join(allowed, "node", "left_semi")
            .join(qv, "query_id")
            .join(e, F.col("node") == F.col("_nid"))
            .select(
                "query_id", "node", cosine(F.col("_qv"), F.col("_nv")).alias("cosine")
            )
        )
    return (
        b.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("node").alias("neighbor_id"), "cosine", "rank")
    )


def knn_graph_ivf(
    embeddings: DataFrame,
    k_graph: int = 8,
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: DataFrame | None = None,
    centroids: DataFrame | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): the APPROXIMATE kNN
    graph — each node's exact top-``k_graph`` among the members of
    its top-``probes`` IVF cells — the 100-TB build path for the
    graph-ANN family: where the exact graph (topk_grid) pays O(N^2)
    across the full corpus, this pays ~probes * sum(|cell|^2) sharded
    perfectly across cells (the standard blocked approximate
    kNN-graph construction; NN-Descent and friends refine exactly
    this kind of seed graph).

    ``candidates``: optional separate candidate corpus — the
    incremental-append hook (knn_graph_append): source nodes come
    from ``embeddings`` (a daily batch), edges point into
    ``candidates`` (the stored corpus, whose cells come from the
    stored ``assign`` table), so a new node's edge list costs its
    probe cells' members only, never a graph rebuild. None keeps the
    self-graph semantics (candidates = embeddings).

    ``probes`` >= 2 matters for more than edge quality: it is what
    makes the graph NAVIGABLE. With probe-1 (in-cell-only) edges the
    edge set is a disjoint union per cell, so a beam search can never
    leave its entry point's cell — measured at sf0.001, recall@10
    collapsed to 0.06 vs 0.37 on the exact graph. Probe-2 gives
    boundary nodes cross-cell links, reconnecting the graph.

    Plan: one probe-cell map (packed-centroid broadcast) on the
    source side, the argmax assignment (or a stored table via
    ``assign`` — the sim_topk_ivf_stored contract) on the candidate
    side, ONE cell equi-join, one per-node window. Probe cells are
    distinct and a candidate has one argmax cell, so each (src, dst)
    pair meets at most once — no dedup. At scale the join is
    co-partitioned by cell; no cell's block leaves its executor.

    Sources and candidates are routed by the SAME centroids: without
    ``assign``, the candidates are assigned against ``centroids`` (or
    against centroids trained once on the candidate side); a stored
    ``assign`` with ``probes`` > 1 needs the ``centroids`` it was made
    with, or the call raises (as topk_ivf does)."""
    if assign is not None and probes > 1 and centroids is None:
        raise ValueError(
            "knn_graph_ivf with a stored assign and probes > 1 needs the "
            "centroids that assignment was made with (centroids=)"
        )
    cand = candidates if candidates is not None else embeddings
    if assign is None:
        # train Lloyd once and persist the k-row centroid table: the
        # candidate assignment and the source probe cells both read it
        if centroids is None:
            centroids = ivf_centroids(cand, id_col=id_col, vec_col=vec_col)
        centroids = cached(centroids)
        v0 = cand.select(F.col(id_col), as_double(vec_col).alias("v"))
        assign = cached(_nearest(v0, centroids, id_col))
    if probes > 1:
        v = embeddings.select(F.col(id_col), as_double(vec_col).alias("v"))
        src_cells = _nearest(v, centroids, id_col, c=probes)
    else:
        src_cells = assign.select(id_col, "cell")
    a = embeddings.join(src_cells, id_col).select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("_av"), "cell"
    )
    b = spread(cand.join(assign.select(id_col, "cell"), id_col)).select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_bv"), "cell"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        a.join(b, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_av"), F.col("_bv")).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k_graph)
    )


def graph_takedown(
    edges: DataFrame,
    forgotten: DataFrame,
    src_col: str = "query_id",
    dst_col: str = "neighbor_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """The stored kNN edge table with every edge TOUCHING a forgotten
    node removed — BOTH endpoint directions, which is the load-bearing
    half of right-to-be-forgotten for a graph index: deleting only a
    node's own out-edges (its ``src`` rows) still leaves other nodes'
    edges pointing AT it, and a beam search happily walks those ghost
    edges and serves the forgotten node as a NEIGHBOR (unlike the IVF
    ghost, which surfaces as a self-hit, this one serves wrong results
    for OTHER users' queries — the worse leak). No backfill: survivors
    that lost an edge keep a shorter adjacency list (re-kNN of touched
    nodes is a separate, optional repair — the cluster_takedown
    analogue), so the contract this purge pins is "no path through a
    forgotten node", not "equal to a survivor rebuild".

    Plan shape: ``keyed_takedown`` once per endpoint column — at
    100 TB a linear scan of the edge store that a compaction pays
    anyway, with no shuffle of the store itself."""
    f = forgotten.select(id_col)
    return keyed_takedown(keyed_takedown(edges, f, src_col), f, dst_col)


def _sources_into(
    edges: DataFrame, ids: DataFrame, id_col: str, src_col: str, dst_col: str
) -> DataFrame:
    """(id_col): the nodes outside ``ids`` holding an edge into
    ``ids`` — the lists a purge of ``ids`` shortens. One broadcast
    semi-join of the edge store, so it is request-sized."""
    into = edges.join(
        F.broadcast(ids.withColumnRenamed(id_col, dst_col)), dst_col, "left_semi"
    )
    return keyed_takedown(
        into.select(F.col(src_col).alias(id_col)).distinct(), ids, id_col
    )


def graph_takedown_repair(
    edges: DataFrame,
    forgotten: DataFrame,
    embeddings: DataFrame,
    k_graph: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    src_col: str = "query_id",
    dst_col: str = "neighbor_id",
) -> DataFrame:
    """(src, dst): the purged kNN edge table with the touched
    survivors' adjacency lists BACKFILLED — the repair graph_takedown
    leaves optional, made exact. The localization theorem that makes
    this cheap: a node's top-``k_graph`` over the survivor corpus
    differs from its stored (full-corpus) list ONLY IF a forgotten
    node was IN that list — i.e. only nodes holding a src->forgotten
    edge need recomputation (ties included: a forgotten node that
    lost a boundary tie was never in the list). So

        repair(touched nodes only)  ==  full rebuild on survivors

    exactly — the cluster_takedown shape (untouched rows verbatim,
    touched neighborhood recomputed), which is what the registered
    query's oracle (a from-scratch survivor rebuild) hashes.

    Plan shape: touched = one broadcast semi-join of the edge store
    against the takedown set (dst direction) minus the set itself;
    recomputation is exact kNN of |touched| query rows against the
    survivor corpus (topk_grid — blocked, |touched| x N_surv work, not
    N^2; at 100 TB swap in the IVF-candidate builder exactly as
    knn_graph_append does); untouched lists are kept by one anti-join.
    Takedown requests are rare and touch ~k_graph x |requests| nodes,
    so the recompute frame is request-sized, never corpus-sized."""
    f = forgotten.select(id_col)
    purged = graph_takedown(edges, f, src_col, dst_col, id_col)
    touched = _sources_into(edges, f, id_col, src_col, dst_col)
    surv_emb = keyed_takedown(embeddings, f, id_col)
    recomputed = topk_grid(
        surv_emb,
        surv_emb.join(F.broadcast(touched), id_col),
        k=k_graph,
        id_col=id_col,
        vec_col=vec_col,
    ).select(F.col("query_id").alias(src_col), F.col("neighbor_id").alias(dst_col))
    kept = keyed_takedown(purged, touched, src_col).select(src_col, dst_col)
    return kept.unionByName(recomputed)


def graph_upsert(
    edges: DataFrame,
    batch: DataFrame,
    embeddings: DataFrame,
    k_graph: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    src_col: str = "query_id",
    dst_col: str = "neighbor_id",
) -> DataFrame:
    """(src, dst): the stored EXACT kNN edge table after re-ingesting
    a batch of RE-EMBEDDED (or brand-new) nodes — the upsert verb for
    the graph store, completing its lifecycle matrix (append /
    takedown / repair / upsert). Result == a from-scratch exact kNN
    rebuild over the current corpus (survivors' old vectors + the
    batch's new vectors), by a three-piece decomposition in which
    every piece is bounded:

    1. survivor graph: graph_takedown_repair with the batch ids as
       the takedown set — exact top-k over survivors, touching only
       the nodes that held an edge into the batch (the localization
       theorem).
    2. batch lists: exact top-k of each batch vector over the current
       corpus — ONE broadcast of the request-sized batch against one
       corpus scan (the topk_bruteforce shape; the |B| x N score
       frame is the exact baseline, and at 100 TB the candidate set
       first shrinks through the IVF cells exactly as
       knn_graph_append does).
    3. survivor insertion: a survivor's exact top-k over the current
       corpus is the re-truncation of (its exact top-k over the
       survivors) UNION (its |B| batch candidates) — removing the
       batch can only promote survivors INTO a list, so every true
       non-batch neighbor already sits in the survivor list, and the
       batch candidates are enumerated exhaustively; re-truncating
       the union under the same (rounded cosine desc, id asc) order
       is therefore exact, the same
       add-a-candidate-to-an-exact-list argument maxsim_upsert and
       ivf_upsert lean on.

    The batch x corpus scores are computed ONCE (cosine is symmetric):
    the same frame serves piece 2 directly and piece 3 transposed,
    restricted to survivor rows. Survivor-edge cosines are re-derived
    from the embedding table (two hash-join lookups per edge), so the
    store may carry bare (src, dst) pairs — the schema
    graph_takedown_repair emits. Every comparator here is the JVM
    ``cosine`` helper (rounded to 6), so the output ranking is
    internally consistent; equality against a topk_grid rebuild
    additionally relies on the numpy path rounding identically, which
    the oracle sweeps pin corpus-wide on the fixtures.

    Contracts (test-pinned): upsert == rebuild-on-current-corpus,
    replay idempotence (same batch twice == once), empty batch ==
    stored lists verbatim, new ids subsume append. Exactness needs an
    EXACT stored graph (same k_graph); on an IVF-built approximate
    store the verbs still compose but the equality becomes
    "no ghost edges + locally exact", the graph_takedown contract.

    Precondition: ``embeddings`` must cover EVERY node id the edge
    store references — the survivor-edge re-scoring is two inner
    joins against the embedding table, so an edge whose endpoint lost
    its embedding row silently vanishes from the output (and its
    node's list back-fills short) instead of failing. The stores are
    maintained together by every verb here (a takedown that purges an
    embedding row also purges its edges), so the invariant holds
    along any supported lifecycle; a caller splicing stores from
    different epochs must reconcile them first."""
    b_ids = batch.select(id_col)
    surv_emb = keyed_takedown(embeddings, b_ids, id_col)
    current = keyed_upsert(embeddings.select(id_col, vec_col), b_ids, batch, id_col)
    # 1. exact survivor graph, touched lists recomputed (localized)
    e_s = graph_takedown_repair(
        edges, b_ids, embeddings, k_graph, id_col, vec_col, src_col, dst_col
    )
    sv = surv_emb.select(F.col(id_col), as_double(vec_col).alias("_v"))
    e_s_scored = (
        e_s.join(
            sv.select(F.col(id_col).alias(src_col), F.col("_v").alias("_sv")), src_col
        )
        .join(
            sv.select(F.col(id_col).alias(dst_col), F.col("_v").alias("_dv")), dst_col
        )
        .select(src_col, dst_col, cosine(F.col("_sv"), F.col("_dv")).alias("cosine"))
    )
    # 2. the ONE batch x corpus score frame (request-sized broadcast)
    bq = batch.select(F.col(id_col).alias(src_col), as_double(vec_col).alias("_qv"))
    cv = current.select(F.col(id_col).alias(dst_col), as_double(vec_col).alias("_cv"))
    pairs = (
        cv.crossJoin(F.broadcast(bq))
        .where(F.col(src_col) != F.col(dst_col))
        .select(src_col, dst_col, cosine(F.col("_qv"), F.col("_cv")).alias("cosine"))
    )
    w = Window.partitionBy(src_col).orderBy(F.desc("cosine"), F.asc(dst_col))
    batch_lists = (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_graph)
        .select(src_col, dst_col)
    )
    # 3. transpose the survivor-side rows of the same frame and
    #    re-truncate each survivor's list under the same comparator
    cross = keyed_takedown(pairs, b_ids, dst_col).select(
        F.col(dst_col).alias(src_col), F.col(src_col).alias(dst_col), "cosine"
    )
    surv_new = (
        e_s_scored.unionByName(cross)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_graph)
        .select(src_col, dst_col)
    )
    return surv_new.unionByName(batch_lists)


def graph_upsert_ivf(
    edges: DataFrame,
    batch: DataFrame,
    embeddings: DataFrame,
    stored_assign: DataFrame,
    stored_centroids: DataFrame,
    k_graph: int = 8,
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    src_col: str = "query_id",
    dst_col: str = "neighbor_id",
) -> DataFrame:
    """graph_upsert's 100-TB form — the upsert verb for the
    IVF-BUILT graph store (knn_graph_ivf), replacing graph_upsert's
    exact-contract |batch| x N insertion frame with cell-pruned
    candidate generation throughout (the knn_graph_append builder
    applied to the upsert verb; SCALE.md's documented scale swap for
    the graph family's heaviest lifecycle op).

    Contract (test-pinned): result == knn_graph_ivf REBUILT over the
    current corpus (survivors' old vectors + the batch's new vectors)
    against the FROZEN centroids, with the candidate-side assignment
    = stored survivor rows + the batch's frozen-centroid
    re-assignment. A TRUE equality — not an approximation of the
    exact graph — because an IVF-graph node's list depends only on
    (its own probe cells, which derive from its unchanged vector) and
    (the current membership of those cells). Three legs:

    1. survivors holding an edge INTO the batch: their stored list
       loses or re-scores a member, so their lists recompute through
       the cell equi-join over the current corpus — |touched| <=
       k_graph x |batch| sources, request-sized. The batch's own
       lists ride the SAME knn_graph_ivf call.
    2. other survivors whose probe cells GAIN a batch member under
       the new assignment: their new list is the RE-TRUNCATION of
       (stored list, cosines reused verbatim) UNION (the entering
       batch members, scored) — exact because no stored-list member
       left their candidate set (a leaver in the list would put them
       in leg 1; a leaver below the list cannot change a top-k), the
       same add-candidates-to-an-exact-list argument as
       graph_upsert's piece 3, localized to cells. Vector math only
       on the entering (survivor, batch) pairs: |batch| x cell-width
       x probes rows, never a per-survivor candidate rescan.
    3. everyone else keeps their stored rows verbatim — their probe
       cells' membership is unchanged.

    Replay-safe: the same batch twice recomputes the same sets to the
    same values. New ids subsume append (the anti-joins drop nothing;
    the cell join inserts them). Precondition: the store was built by
    knn_graph_ivf with the SAME k_graph/probes/centroids/assignment
    (on an exact store the verbs still compose, but the equality
    becomes graph_takedown's "no ghosts + locally exact"). Unlike
    graph_upsert's 2-column (src, dst) contract, the stored edges
    MUST carry the ``cosine`` column knn_graph_ivf writes: leg 2
    re-truncates stored lists by reusing their scores verbatim
    instead of recomputing them — validated up front (ADVICE r13: a
    2-column store otherwise fails with an unresolved-column error
    deep in the plan instead of naming the migration gap).

    Cost at 100 TB: request-sized anti-joins and leg-1 recompute, one
    narrow probe-cell map over the survivor scan, the batch-sized
    entering-pair frame, and one window over (k_graph + entering)
    SMALL rows per leg-2 node — a store-scan-shaped shuffle with no
    vector math, vs graph_upsert's N x |batch| scored frame."""
    missing = [c for c in (src_col, dst_col, "cosine") if c not in edges.columns]
    if missing:
        raise ValueError(
            f"graph_upsert_ivf needs a knn_graph_ivf-built edge store with "
            f"columns ({src_col!r}, {dst_col!r}, 'cosine') — got schema "
            f"{edges.columns} (missing {missing}). Leg 2 reuses stored "
            "cosines verbatim for its re-truncation; a 2-column (src, dst) "
            "store is graph_upsert's exact contract, not this one — rebuild "
            "the store with knn_graph_ivf or migrate it by re-scoring."
        )
    b_ids = batch.select(id_col)
    surv_emb = keyed_takedown(embeddings, b_ids, id_col)
    cur_emb = keyed_upsert(embeddings.select(id_col, vec_col), b_ids, batch, id_col)
    cur_assign = ivf_upsert(
        stored_assign.select(id_col, "cell"), batch, stored_centroids, id_col, vec_col
    )
    batch_assign = ivf_append_assign(batch, stored_centroids, id_col, vec_col).select(
        id_col, "cell"
    )
    # leg 1: survivors whose stored list holds an edge into the batch
    touched = _sources_into(edges, b_ids, id_col, src_col, dst_col)
    sources = (
        surv_emb.select(id_col, vec_col)
        .join(touched, id_col, "left_semi")
        .unionByName(batch.select(id_col, vec_col))
    )
    fresh = knn_graph_ivf(
        sources,
        k_graph,
        probes,
        id_col,
        vec_col,
        assign=cur_assign,
        centroids=stored_centroids,
        candidates=cur_emb,
    ).withColumnRenamed("query_id", src_col).withColumnRenamed(
        "neighbor_id", dst_col
    )
    # leg 2: survivors whose probe cells gain a batch member under the
    # NEW assignment (probe cells derive from their unchanged vectors:
    # one narrow packed-centroid map over the survivor scan)
    sv = surv_emb.select(F.col(id_col), as_double(vec_col).alias("v"))
    sprobe = _nearest(sv, stored_centroids, id_col, c=probes)
    leg2_pairs = (
        sprobe.join(touched, id_col, "left_anti")
        .join(
            batch_assign.withColumnRenamed(id_col, dst_col), "cell"
        )
        .select(F.col(id_col).alias(src_col), dst_col)
        .where(F.col(src_col) != F.col(dst_col))
    )
    bv = batch.select(F.col(id_col).alias(dst_col), as_double(vec_col).alias("_bv"))
    entering = leg2_pairs.join(
        sv.select(F.col(id_col).alias(src_col), F.col("v").alias("_sv")), src_col
    ).join(F.broadcast(bv), dst_col).select(
        src_col, dst_col, cosine(F.col("_sv"), F.col("_bv")).alias("cosine")
    )
    leg2_ids = entering.select(F.col(src_col).alias(id_col)).distinct()
    purged = graph_takedown(edges, b_ids, src_col, dst_col, id_col)
    leg2_stored = purged.join(
        leg2_ids.withColumnRenamed(id_col, src_col), src_col, "left_semi"
    ).select(src_col, dst_col, "cosine")
    w = Window.partitionBy(src_col).orderBy(F.desc("cosine"), F.asc(dst_col))
    leg2 = (
        leg2_stored.unionByName(entering)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k_graph)
    )
    # leg 3: verbatim keeps — nodes in neither recompute set
    kept = purged.join(
        touched.unionByName(leg2_ids).withColumnRenamed(id_col, src_col),
        src_col,
        "left_anti",
    )
    return kept.unionByName(leg2.select(*kept.columns)).unionByName(
        fresh.select(*kept.columns)
    )


def pca_power_iteration(
    embeddings: DataFrame,
    rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
) -> DataFrame:
    """(round, rayleigh_share, component_fp): the corpus's top
    principal direction (uncentered Gram matrix) by matrix-free POWER
    ITERATION in pure DataFrame algebra — the embedding-space QA
    behind whitening, dead-dimension detection and the matryoshka
    prefix choice: rayleigh_share says how much of the total squared
    mass one direction carries (near 1.0 = collapsed/anisotropic
    embeddings, the degenerate-space analogue of ivf_list_stats'
    collapsed quantizer).

    Each round is matrix-free: w = sum_x x * (x . v) needs ONE corpus
    scan (a broadcast dot product + a dim-keyed hash-agg with map-side
    partials — the Gram matrix is never materialized), then a 1-row
    normalization. Rounds are unrolled with 6-decimal rounding per
    round (the kmeans/GD/BPE chain discipline), so the oracle
    reproduces every iterate bit-for-bit. v0 = the normalized mean
    vector (deterministic, generally well-aligned with the top
    direction of uncentered data). The per-round Rayleigh quotient of
    a PSD matrix is non-decreasing under power iteration —
    property-pinned in tests; emitting one row per round makes the
    convergence visible."""
    e = embeddings.select(as_double(vec_col).alias("v"))
    tot = e.agg(
        F.sum(
            F.aggregate(
                F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, b: a + b
            )
        ).alias("_t2")
    )

    def _unit_row(packed: DataFrame) -> DataFrame:
        """1-row packed vector (_w) -> 1-row unit vector (bv), rounded."""
        norm = F.sqrt(
            F.aggregate(
                F.transform("_w", lambda x: x * x), F.lit(0.0), lambda a, b: a + b
            )
        )
        return packed.select(
            F.transform("_w", lambda x: F.round(x / norm, 6)).alias("bv")
        )

    v = _unit_row(_means(e, (), "v", "_w"))
    rows = []
    for r in range(1, rounds + 1):
        scored = e.crossJoin(F.broadcast(v)).select(
            "v",
            F.aggregate(
                F.zip_with("v", "bv", lambda a, b: a * b),
                F.lit(0.0),
                lambda a, b: a + b,
            ).alias("_d"),
        )
        ray = (
            scored.agg(F.sum(F.col("_d") * F.col("_d")).alias("_s2"))
            .crossJoin(F.broadcast(tot))
            .select(
                F.lit(r).cast("int").alias("round"),
                F.round(F.col("_s2") / F.col("_t2"), 6).alias("rayleigh_share"),
            )
        )
        w64 = (
            scored.select(F.posexplode("v").alias("pos", "x"), "_d")
            .groupBy("pos")
            .agg(F.round(F.sum(F.col("x") * F.col("_d")), 6).alias("cx"))
        )
        v = _unit_row(_pack(w64, (), "_w"))
        rows.append(
            ray.crossJoin(F.broadcast(v)).select(
                "round",
                "rayleigh_share",
                F.to_json(
                    F.transform("bv", lambda x: F.round(x * F.lit(1000000.0)).cast("long"))
                ).alias("component_fp"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out
