"""Pipelines query family (split from the entry_queries monolith;
see entry_queries/__init__.py for the assembled registry)."""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.session import cache_scope, cached
from calculate_file_content_size_for_vector_db_spark.entry_queries._core import (
    FIXTURE_CHUNK_SIZE,
    _BPE_N,
    _INCR_BATCH_MOD,
    _SQL_CHUNKS,
    _SQL_EMB,
    _SQL_MINHASH_BANDS,
    _SQL_SHINGLES,
    _SQL_TOKENS,
    _docs,
    _emb,
    _pipe,
    _sql_bpe_chain,
    _sql_hashed_features,
    _sql_lloyd,
    _sql_logreg_chain,
    register,
)


# ---------------------------------------------------------------------------
# Composed end-to-end pipeline: the full training-data prep flow as ONE
# lazy DataFrame graph — quality gate -> near-dup removal (MinHash LSH,
# keep smallest doc_id of each dup pair) -> chunk -> corpus stats.
# ---------------------------------------------------------------------------


@register(
    "training_pipeline",
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
),
cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
dup_pairs AS (
    SELECT c.a_id, c.b_id
    FROM cand c
    JOIN sh_t sa ON sa.doc_id = c.a_id
    JOIN sh_t sb ON sb.doc_id = c.b_id
    WHERE round(len(list_intersect(sa.sh, sb.sh)) /
          CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE), 6) >= 0.5
),
quality AS (
    SELECT doc_id, text,
           round(CASE WHEN length(text) = 0 THEN NULL
                 ELSE (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                      / CAST(length(text) AS DOUBLE) END, 6) AS punct_ratio
    FROM documents
),
kept AS (
    SELECT q.doc_id, q.text FROM quality q
    WHERE COALESCE(q.punct_ratio, 1.0) <= 0.1
      AND q.doc_id NOT IN (SELECT b_id FROM dup_pairs)
),
chunked AS (
    SELECT doc_id,
           CAST(unnest(range(0, CAST(ceil(length(text) / 100.0) AS INT))) AS INT) AS chunk_index,
           text
    FROM kept WHERE length(text) > 0
)
SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       count(*) AS n_chunks,
       CAST(SUM(length(substring(text, chunk_index * 100 + 1, 100))) AS BIGINT) AS total_chars
FROM chunked
""",
)
def training_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate -> MinHash-LSH dedup (drop the larger id of each
    verified pair) -> fixed chunking -> one-row corpus stats. At scale:
    two shuffles (signature agg, candidate join) + one final agg."""
    from calculate_file_content_size_for_vector_db_spark.operators.chunk import chunk_fixed
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import minhash_lsh_pairs
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import quality_score

    docs = _docs(spark, sf_dir)
    dup_b = minhash_lsh_pairs(docs, threshold=0.5).select(
        F.col("b_id").alias("doc_id")
    ).distinct()
    kept = (
        quality_score(docs)
        .where(F.coalesce(F.col("punct_ratio"), F.lit(1.0)) <= 0.1)
        .join(dup_b, "doc_id", "left_anti")
        .select("doc_id", "text")
    )
    chunks = chunk_fixed(kept, chunk_size=FIXTURE_CHUNK_SIZE, keep_cols=["doc_id"])
    return chunks.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").alias("n_chunks"),
        F.sum(F.length("chunk_text")).cast("long").alias("total_chars"),
    )


@register(
    "curation_pipeline",
    _SQL_MINHASH_BANDS
    + """,
cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
dup_pairs AS (
    SELECT c.a_id, c.b_id
    FROM cand c
    JOIN sh_t sa ON sa.doc_id = c.a_id
    JOIN sh_t sb ON sb.doc_id = c.b_id
    WHERE round(len(list_intersect(sa.sh, sb.sh)) /
          CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE), 6) >= 0.5
),
lang AS (
    SELECT doc_id,
           CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is'))) AS INT) AS s_en,
           CAST(len(list_filter(ws, w -> w IN ('der','die','das','und','ist','ein'))) AS INT) AS s_de,
           CAST(len(list_filter(ws, w -> w IN ('el','la','de','que','y','un'))) AS INT) AS s_es,
           CAST(len(list_filter(ws, w -> w IN ('le','la','et','les','des','un'))) AS INT) AS s_fr,
           CAST(len(list_filter(ws, w -> w IN ('的','是','了','在'))) AS INT) AS s_zh
    FROM ws_t
),
lang_en AS (
    SELECT doc_id FROM lang
    WHERE greatest(s_en, s_de, s_es, s_fr, s_zh) > 0
      AND s_en = greatest(s_en, s_de, s_es, s_fr, s_zh)
),
qual AS (
    SELECT doc_id FROM (
        SELECT doc_id,
               round(CASE WHEN length(text) = 0 THEN NULL
                     ELSE (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                          / CAST(length(text) AS DOUBLE) END, 6) AS punct_ratio
        FROM documents
    ) WHERE COALESCE(punct_ratio, 1.0) <= 0.1
),
sh5 AS (
    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 3),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))) AS g
    FROM ws_t WHERE len(ws) >= 5
),
contaminated AS (
    SELECT DISTINCT t.doc_id
    FROM sh5 t JOIN sh5 b ON t.g = b.g AND t.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
),
kept AS (
    SELECT d.doc_id, d.text
    FROM documents d
    JOIN lang_en USING (doc_id)
    JOIN qual USING (doc_id)
    WHERE d.doc_id % 5 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
      AND d.doc_id NOT IN (SELECT b_id FROM dup_pairs)
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(len(w.ws)), 0) AS BIGINT) AS total_tokens,
       CAST(coalesce(sum(length(k.text)), 0) AS BIGINT) AS total_chars
FROM kept k JOIN ws_t w USING (doc_id)
""",
)
def curation_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation stack composed as one lazy plan — the query
    a training-data team actually ships: benchmark split held out
    (doc_id % 5 == 0) -> language gate (detected 'en') -> quality gate
    (punct_ratio <= 0.1) -> benchmark decontamination (shared 5-gram)
    -> MinHash-LSH near-dup drop (larger id of each verified pair) ->
    one-row corpus budget (docs / tokens / chars). Every stage is an
    already-proven operator; composition stays gates + anti-joins on
    doc_id plus the LSH chain's own bounded shuffles."""
    from calculate_file_content_size_for_vector_db_spark.operators.curation import decontaminate
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import minhash_lsh_pairs
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        lang_id,
        quality_score,
        tokens,
    )

    docs = _docs(spark, sf_dir)
    train = docs.where(F.col("doc_id") % 5 != 0)
    bench = docs.where(F.col("doc_id") % 5 == 0)
    contaminated = decontaminate(train, bench, n=5).select("doc_id")
    dup_b = minhash_lsh_pairs(docs, threshold=0.5).select(
        F.col("b_id").alias("doc_id")
    ).distinct()
    # lang_id and quality_score are per-row narrow maps, so the lang/
    # quality gates apply INLINE on the train scan instead of computing
    # two separate corpus-wide id lists and equi-joining them back (the
    # pre-r15 shape: two extra corpus passes + two corpus-sized
    # SortMergeJoins for predicates each row can evaluate locally,
    # guide §2.4; doc_id is unique, so filter == inner-join row-for-row)
    kept = (
        quality_score(lang_id(train))
        .where(
            (F.col("predicted_lang") == "en")
            & (F.coalesce(F.col("punct_ratio"), F.lit(1.0)) <= 0.1)
        )
        .join(contaminated, "doc_id", "left_anti")
        .join(dup_b, "doc_id", "left_anti")
        .select("doc_id", "text")
    )
    return kept.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.size(tokens("text"))), F.lit(0)).cast("long").alias("total_tokens"),
        F.coalesce(F.sum(F.length("text")), F.lit(0)).cast("long").alias("total_chars"),
    )


@register(
    "rag_ingest",
    f"""
WITH {_SQL_CHUNKS},
fp AS (
    SELECT doc_id, chunk_index,
           CASE WHEN content IS NULL OR length(content) = 0 THEN 0
                ELSE list_reduce(
                    list_transform(string_split(content, ''), c -> CAST(ord(c) AS BIGINT)),
                    (a, b) -> (a * 31 + b) % 1000000007) END AS h
    FROM chunk_sized
),
emb AS (
    SELECT doc_id, chunk_index,
           list_transform(range(0, 64),
               j -> ((h + j * 40503) * 2654435761 % 1000003) / 1000003.0 - 0.5) AS v
    FROM fp
)
SELECT doc_id, chunk_index,
       CAST(list_sum(list_transform(range(0, 16), p ->
           CASE WHEN list_dot_product(v, list_transform(range(0, 64), j ->
               ((j + p * 64) * 2654435761 % 1000003) / 1000003.0 - 0.5)) > 0
           THEN (1::BIGINT << CAST(p AS INT)) ELSE 0::BIGINT END)) AS BIGINT) AS bucket,
       CAST(to_json(list_transform(v, x ->
           CAST(round(round(x, 6) * 1000000.0) AS BIGINT))) AS VARCHAR) AS embedding_r
FROM emb
""",
)
def rag_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector-db ingestion pipeline the reference sizes capacity
    FOR (README.md:4-8), composed end-to-end as one lazy graph:
    chunk -> preprocess -> embed (deterministic hash projection
    standing in for a model encoder) -> LSH index bucket. Everything
    is a narrow map after the chunk explode — zero joins, zero
    Python, one shuffle-free scan at 100 TB."""
    from calculate_file_content_size_for_vector_db_spark.operators.embed import (
        rag_ingest_frame,
    )

    chunks = _pipe(spark).chunks(_docs(spark, sf_dir)).select(
        "doc_id", "chunk_index", "content"
    )
    # Fixed-point-scale + JSON-serialize the embedding so the driver's
    # pandas canonicalization compares a scalar string (embedding_quantize
    # pattern); the streaming path keeps the raw array from the frame.
    return rag_ingest_frame(chunks).select(
        "doc_id",
        "chunk_index",
        "bucket",
        F.to_json(
            F.transform("embedding_r", lambda x: F.round(x * F.lit(1000000.0)).cast("long"))
        ).alias("embedding_r"),
    )


_SQL_TRAIN17 = "(SELECT * FROM documents WHERE doc_id % 17 <> 0)"


_SQL_SERVE17 = "(SELECT * FROM documents WHERE doc_id % 17 = 0)"


@register(
    "serving_pipeline",
    _sql_bpe_chain(_BPE_N, train_where="WHERE doc_id % 17 <> 0")
    + f""",
nw AS (
    SELECT DISTINCT t AS word
    FROM (SELECT unnest({_SQL_TOKENS}) AS t FROM documents WHERE doc_id % 17 = 0)
),
a0 AS (
    SELECT word,
           ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS repr
    FROM nw
),
"""
    + ",\n".join(
        f"""a{i} AS (
    SELECT word, replace(repr, ' ' || b.lhs || '  ' || b.rhs || ' ',
                         ' ' || b.merged || ' ') AS repr
    FROM a{i - 1} CROSS JOIN b{i} b
)"""
        for i in range(1, _BPE_N + 1)
    )
    + f""",
bvoc AS (
    SELECT word,
           CAST(len(string_split(trim(repr), '  ')) AS BIGINT) AS n_sym
    FROM a{_BPE_N}
),
btk AS (
    SELECT doc_id, unnest({_SQL_TOKENS}) AS word
    FROM documents WHERE doc_id % 17 = 0
),
btok AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
    FROM btk JOIN bvoc USING (word) GROUP BY doc_id
),
{_sql_logreg_chain(train_src=_SQL_TRAIN17)},
{_sql_hashed_features("f", _SQL_SERVE17)},
zf AS (SELECT f.doc_id, round(sum(f.x * w.wgt ORDER BY f.b), 6) AS z
       FROM featf f JOIN wl2 w USING (b) GROUP BY f.doc_id),
{_SQL_EMB},
eb AS (SELECT * FROM e WHERE vec_id % 17 <> 0),
es AS (SELECT * FROM e WHERE vec_id % 17 = 0),
{_sql_lloyd(src="eb", tag="v")},
centx AS (SELECT cell, cv FROM centv3),
routeb AS (
    SELECT vec_id, cell FROM (
        SELECT a.vec_id, c.cell,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round(list_cosine_similarity(a.v, c.cv), 6) DESC, c.cell) AS rn
        FROM eb a, centx c
    ) WHERE rn = 1
),
routes AS (
    SELECT vec_id, cell, cell_cosine FROM (
        SELECT a.vec_id, c.cell,
               round(list_cosine_similarity(a.v, c.cv), 6) AS cell_cosine,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round(list_cosine_similarity(a.v, c.cv), 6) DESC, c.cell) AS rn
        FROM es a, centx c
    ) WHERE rn = 1
),
nn AS (
    SELECT query_id, neighbor_id, nn_cosine FROM (
        SELECT s.vec_id AS query_id, b.vec_id AS neighbor_id,
               round(list_cosine_similarity(sv.v, bv.v), 6) AS nn_cosine,
               row_number() OVER (PARTITION BY s.vec_id
                   ORDER BY round(list_cosine_similarity(sv.v, bv.v), 6) DESC, b.vec_id) AS rn
        FROM routes s JOIN routeb b ON s.cell = b.cell
        JOIN es sv ON sv.vec_id = s.vec_id
        JOIN eb bv ON bv.vec_id = b.vec_id
    ) WHERE rn = 1
)
SELECT d.doc_id,
       CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS INT) AS label,
       round(1.0 / (1.0 + exp(-zf.z)), 6) AS score,
       btok.n_tokens, btok.n_bpe_tokens,
       CAST(routes.cell AS INT) AS cell, routes.cell_cosine,
       nn.neighbor_id AS nn_id, nn.nn_cosine
FROM {_SQL_SERVE17} d
LEFT JOIN zf USING (doc_id)
LEFT JOIN btok USING (doc_id)
LEFT JOIN routes ON routes.vec_id = d.doc_id
LEFT JOIN nn ON nn.query_id = d.doc_id
""",
)
def serving_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The artifact-SERVING flagship: one lazy plan pushes the same
    held-out ingest batch (doc_id % 17 == 0 — the bpe_apply_oov
    split) through all three trained-artifact families this engine
    stores: (1) the quality classifier trained on the REST of the
    corpus scores the batch via the 17-row weight broadcast, (2) the
    BPE tokenizer trained on the rest segments every batch word by
    replaying the stored merge table (the OOV fold), and (3) the IVF
    index trained on the rest ROUTES each batch embedding to its
    frozen cell and answers the in-cell exact top-1 neighbor. One row
    per batch doc: doc_id, label, score, n_tokens, n_bpe_tokens,
    cell, cell_cosine, nn_id, nn_cosine (NULLs where the doc has no
    tokens or no embedding). This is the daily-ingest shape at 100
    TB: every artifact is train-once (sampled) + broadcast; the only
    batch-vs-corpus join is the cell-pruned neighbor probe, and every
    stage's cost is batch-sized except the one corpus scan each
    training consumes (sampled in production, exercised in full by
    the dedicated per-artifact queries). The parquet store seams are
    covered by sim_topk_ivf_stored / sim_ivf_append; this composition
    pins that the three SERVING paths agree end-to-end in one plan."""
    from calculate_file_content_size_for_vector_db_spark.operators.curation import (
        quality_classifier_score,
    )
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        as_double,
        cosine,
        ivf_append_assign,
        ivf_centroids,
    )
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        bpe_apply_oov,
    )

    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    serve_docs = docs.where(F.col("doc_id") % 17 == 0)
    train_docs = docs.where(F.col("doc_id") % 17 != 0)
    scored = quality_classifier_score(
        serve_docs, positive=F.col("lang") == "en", train_df=train_docs
    )
    toks = bpe_apply_oov(docs)
    base = emb.where(F.col("vec_id") % 17 != 0)
    batch = emb.where(F.col("vec_id") % 17 == 0)
    # persist the k-row centroid table: it feeds BOTH the batch routing
    # and the corpus-side assignment, and Spark does not dedupe common
    # subplans — unpersisted, the whole unrolled Lloyd training lineage
    # ran once per reference (the topk_ivf r15 lesson, guide §2.4).
    # (Overlapping the three independent trainings from driver threads
    # was tried TWICE and regressed both times: r15's per-chain count()
    # variant was a wash, and r16's persisted-artifact variant —
    # training weights/merges/centroids eagerly in three threads and
    # serving through the stored-artifact hooks — measured ×0.69
    # interleaved (13.5s -> 19.7s rebench): the single lazy plan
    # already overlaps the independent training subtrees via AQE's
    # concurrent stage materialization, and the eager split only adds
    # job barriers + cache round-trips. See OPTIMIZATION_r16.md.)
    cents = cached(ivf_centroids(base))
    routed = ivf_append_assign(batch, cents)
    base_assign = ivf_append_assign(base, cents)
    qv = batch.select(
        F.col("vec_id").alias("query_id"), as_double("embedding").alias("qv")
    ).join(routed.select(F.col("vec_id").alias("query_id"), "cell"), "query_id")
    cv = base.select(
        F.col("vec_id").alias("neighbor_id"), as_double("embedding").alias("cv")
    ).join(base_assign.select(F.col("vec_id").alias("neighbor_id"), "cell"), "neighbor_id")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("nn_cosine"), F.asc("neighbor_id")
    )
    nn = (
        cv.join(F.broadcast(qv), "cell")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("nn_cosine"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            F.col("query_id").alias("doc_id"),
            F.col("neighbor_id").alias("nn_id"),
            "nn_cosine",
        )
    )
    return (
        scored.join(toks, "doc_id", "left")
        .join(
            routed.select(
                F.col("vec_id").alias("doc_id"),
                F.col("cell").cast("int").alias("cell"),
                "cell_cosine",
            ),
            "doc_id",
            "left",
        )
        .join(nn, "doc_id", "left")
        .select(
            "doc_id",
            "label",
            "score",
            "n_tokens",
            "n_bpe_tokens",
            "cell",
            "cell_cosine",
            "nn_id",
            "nn_cosine",
        )
    )


@register(
    "ingest_pipeline",
    _SQL_MINHASH_BANDS
    + f""",
cand AS (
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash
    WHERE a.doc_id % {_INCR_BATCH_MOD} = 0 AND b.doc_id % {_INCR_BATCH_MOD} <> 0
),
dups AS (
    SELECT new_id, CAST(count(*) AS BIGINT) AS n_corpus_dups
    FROM (
        SELECT c.new_id, c.corpus_id,
               len(list_intersect(sa.sh, sb.sh)) AS inter,
               len(sa.sh) AS n_a, len(sb.sh) AS n_b
        FROM cand c
        JOIN sh_t sa ON sa.doc_id = c.new_id
        JOIN sh_t sb ON sb.doc_id = c.corpus_id
    )
    WHERE round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) >= 0.5
    GROUP BY new_id
),
{_SQL_EMB},
e7 AS (SELECT * FROM e WHERE vec_id % {_INCR_BATCH_MOD} <> 0),
{_sql_lloyd(src="e7", tag="i")},
centi AS (SELECT cell, cv FROM centi3),
assign AS (
    SELECT vec_id, cell, cell_cosine FROM (
        SELECT a.vec_id, c.cell,
               round(list_cosine_similarity(a.v, c.cv), 6) AS cell_cosine,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round(list_cosine_similarity(a.v, c.cv), 6) DESC, c.cell) AS rn
        FROM e a, centi c
        WHERE a.vec_id % {_INCR_BATCH_MOD} = 0
    ) WHERE rn = 1
)
SELECT d.doc_id,
       coalesce(p.n_corpus_dups, 0) AS n_corpus_dups,
       p.new_id IS NULL AS admitted,
       CASE WHEN p.new_id IS NULL THEN CAST(a.cell AS INT) END AS cell,
       CASE WHEN p.new_id IS NULL THEN a.cell_cosine END AS cell_cosine
FROM documents d
LEFT JOIN dups p ON p.new_id = d.doc_id
LEFT JOIN assign a ON a.vec_id = d.doc_id
WHERE d.doc_id % {_INCR_BATCH_MOD} = 0
""",
)
def ingest_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-INGEST flagship, completing the composed-pipeline
    triad (training_pipeline = offline curation, serving_pipeline =
    artifact serving, this = the write path): one lazy plan pushes
    the daily batch (doc_id % 7 == 0, the incremental family's split)
    through the full admission chain — (1) the Bloom pre-gate probes
    the corpus band bitmap (bounded broadcast; no-false-negatives
    means the gate is invisible to the oracle, the
    dedup_incremental_bloom equality exercised INSIDE a composition),
    (2) gated docs pay the band join against the STORED corpus
    artifacts and verify exact Jaccard, (3) survivors are admitted,
    and (4) admitted docs' embeddings route to their frozen IVF cell
    (ivf_append_assign — the packed-centroid broadcast map), ready to
    append to the assignment store. One row per batch doc: doc_id,
    n_corpus_dups, admitted, cell, cell_cosine (NULL cell for
    rejected docs and docs without embeddings). Every stage is
    batch-sized except the stored-artifact scans the corpus side
    already paid for; at 100 TB the quantizer trains on a sample and
    the bitmap/band/shingle/centroid tables are the parquet stores
    the dedicated per-artifact queries pin."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        bands_from_shingle_sets,
        bloom_neardup_prefilter,
        incremental_neardup_pairs,
        shingle_sets,
    )
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        ivf_append_assign,
        ivf_centroids,
    )

    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % _INCR_BATCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % _INCR_BATCH_MOD != 0)
    # persist the corpus band table: the Bloom gate AND the stored-band
    # pair join both reference it, and unpersisted each reference re-ran
    # the full corpus shingle+signature lineage (guide §2.4; at scale
    # this frame IS the parquet band store the handoff row reads back)
    # DISK_ONLY (guide §5; VERDICT r15 item 6): this frame is corpus x
    # bands rows — at 100 TB it IS the parquet band store the handoff
    # row reads back, and a default MEMORY_AND_DISK persist of it would
    # evict executor memory the joins need before spilling anyway.
    # Serialized-to-disk cache measured bench-neutral at sf0.1 (r16
    # A/B, OPTIMIZATION_r16.md).
    # one corpus tokenize+shingle pass (r16): the shingle sets persist
    # (the verify join needs them anyway) and the band table derives
    # from the cached arrays (bands_from_shingle_sets — bit-identical)
    corpus_sh = cached(shingle_sets(corpus), StorageLevel.DISK_ONLY)
    corpus_bands = cached(bands_from_shingle_sets(corpus_sh), StorageLevel.DISK_ONLY)
    # (r16 negative result: persisting the BATCH band table and feeding
    # the gate + pair join through the precomputed-bands hooks measured
    # 8.76s -> 10.91s interleaved — the batch subtree is cheap, its
    # duplicate copies evaluate as parallel stages inside this one lazy
    # plan, and the cache barrier only serializes them. Contrast the
    # handoff, where the duplicates were EAGER serial store-seam jobs,
    # and dedup_clusters_append, where the shared subtree is
    # corpus-sized. Kept derive-inline.)
    gate = bloom_neardup_prefilter(batch, corpus_bands)
    batch_flagged = batch.join(
        gate.where(F.col("maybe_neardup")).select("doc_id"), "doc_id", "left_semi"
    )
    pairs = incremental_neardup_pairs(
        batch_flagged, corpus_bands, corpus_sh
    )
    dups = pairs.groupBy(F.col("new_id").alias("doc_id")).agg(
        F.count("*").cast("long").alias("_nd")
    )
    cents = ivf_centroids(emb.where(F.col("vec_id") % _INCR_BATCH_MOD != 0))
    routed = ivf_append_assign(
        emb.where(F.col("vec_id") % _INCR_BATCH_MOD == 0), cents
    ).select(F.col("vec_id").alias("doc_id"), "cell", "cell_cosine")
    admitted = F.col("_nd").isNull()
    return (
        batch.select("doc_id")
        .join(dups, "doc_id", "left")
        .join(routed, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_nd"), F.lit(0)).cast("long").alias("n_corpus_dups"),
            admitted.alias("admitted"),
            F.when(admitted, F.col("cell")).cast("int").alias("cell"),
            F.when(admitted, F.col("cell_cosine")).alias("cell_cosine"),
        )
    )


_SQL_HANDOFF_VERIFY = """
    SELECT c.new_id, c.corpus_id,
           len(list_intersect(sa.sh, sb.sh)) AS inter,
           len(sa.sh) AS n_a, len(sb.sh) AS n_b
    FROM {cand} c
    JOIN sh_t sa ON sa.doc_id = c.new_id
    JOIN sh_t sb ON sb.doc_id = c.corpus_id
"""


@register(
    "ingest_serve_handoff",
    _SQL_MINHASH_BANDS
    + f""",
cand0 AS (
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash
    WHERE a.doc_id % {2 * _INCR_BATCH_MOD} = 0 AND b.doc_id % {_INCR_BATCH_MOD} <> 0
),
dups0 AS (
    SELECT new_id, CAST(count(*) AS BIGINT) AS n_store_dups
    FROM ({_SQL_HANDOFF_VERIFY.format(cand="cand0")})
    WHERE round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) >= 0.5
    GROUP BY new_id
),
adm0 AS (
    SELECT doc_id FROM documents
    WHERE doc_id % {2 * _INCR_BATCH_MOD} = 0
      AND doc_id NOT IN (SELECT new_id FROM dups0)
),
store1 AS (
    SELECT doc_id FROM documents WHERE doc_id % {_INCR_BATCH_MOD} <> 0
    UNION ALL SELECT doc_id FROM adm0
),
cand1 AS (
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash
    JOIN store1 s ON s.doc_id = b.doc_id
    WHERE a.doc_id % {_INCR_BATCH_MOD} = 0
      AND a.doc_id % {2 * _INCR_BATCH_MOD} <> 0
),
dups1 AS (
    SELECT new_id, CAST(count(*) AS BIGINT) AS n_store_dups
    FROM ({_SQL_HANDOFF_VERIFY.format(cand="cand1")})
    WHERE round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) >= 0.5
    GROUP BY new_id
),
adm1 AS (
    SELECT doc_id FROM documents
    WHERE doc_id % {_INCR_BATCH_MOD} = 0
      AND doc_id % {2 * _INCR_BATCH_MOD} <> 0
      AND doc_id NOT IN (SELECT new_id FROM dups1)
),
admitted AS (SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1),
{_SQL_EMB},
e7 AS (SELECT * FROM e WHERE vec_id % {_INCR_BATCH_MOD} <> 0),
{_sql_lloyd(src="e7", tag="h")},
centh AS (SELECT cell, cv FROM centh3),
sv AS (
    SELECT e.* FROM e WHERE e.vec_id % {_INCR_BATCH_MOD} <> 0
    UNION ALL
    SELECT e.* FROM e JOIN admitted a ON a.doc_id = e.vec_id
),
assign AS (
    SELECT vec_id, cell, cell_cosine FROM (
        SELECT a.vec_id, c.cell,
               round(list_cosine_similarity(a.v, c.cv), 6) AS cell_cosine,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round(list_cosine_similarity(a.v, c.cv), 6) DESC, c.cell) AS rn
        FROM sv a, centh c
    ) WHERE rn = 1
),
nn AS (
    SELECT query_id, neighbor_id, nn_cosine FROM (
        SELECT qa.vec_id AS query_id, sb.vec_id AS neighbor_id,
               round(list_cosine_similarity(qe.v, be.v), 6) AS nn_cosine,
               row_number() OVER (PARTITION BY qa.vec_id
                   ORDER BY round(list_cosine_similarity(qe.v, be.v), 6) DESC, sb.vec_id) AS rn
        FROM assign qa
        JOIN admitted ad ON ad.doc_id = qa.vec_id
        JOIN assign sb ON sb.cell = qa.cell AND sb.vec_id <> qa.vec_id
        JOIN e qe ON qe.vec_id = qa.vec_id
        JOIN e be ON be.vec_id = sb.vec_id
    ) WHERE rn = 1
)
SELECT d.doc_id,
       CAST(CASE WHEN d.doc_id % {2 * _INCR_BATCH_MOD} = 0 THEN 0 ELSE 1 END AS INT) AS day,
       coalesce(du.n_store_dups, 0) AS n_store_dups,
       ad.doc_id IS NOT NULL AS admitted,
       CASE WHEN ad.doc_id IS NOT NULL THEN CAST(asg.cell AS INT) END AS cell,
       CASE WHEN ad.doc_id IS NOT NULL THEN asg.cell_cosine END AS cell_cosine,
       nn.neighbor_id AS nn_id, nn.nn_cosine
FROM documents d
LEFT JOIN (SELECT * FROM dups0 UNION ALL SELECT * FROM dups1) du ON du.new_id = d.doc_id
LEFT JOIN admitted ad ON ad.doc_id = d.doc_id
LEFT JOIN assign asg ON asg.vec_id = d.doc_id
LEFT JOIN nn ON nn.query_id = d.doc_id
WHERE d.doc_id % {_INCR_BATCH_MOD} = 0
""",
)
def ingest_serve_handoff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The admit -> append -> serve flagship (VERDICT r09 item 6): the
    handoff ingest_pipeline and serving_pipeline each pin HALF of.
    Two consecutive ingest days run against ONE real parquet store,
    and the next day serves from the post-append artifacts:

    - **Day 0** (doc_id % 14 == 0): admitted against the stored corpus
      band/shingle artifacts (Bloom pre-gate -> stored-band join ->
      exact-Jaccard verify, the ingest_pipeline chain); admissions'
      bands/shingles APPEND to the store.
    - **Day 1** (doc_id % 7 == 0, % 14 != 0): the same chain against
      the POST-APPEND store — a day-1 doc that near-dups a day-0
      ADMISSION is rejected through the store, the cross-day property
      no single-batch query can exercise.
    - **Append**: both days' admitted embeddings are assigned against
      the frozen corpus-trained centroids (read back from parquet) and
      appended to the stored assignment table.
    - **Serve**: every admitted doc is answered its top-1 in-cell
      neighbor from the post-append assignment store (topk_ivf with
      assign= the stored table) — "what does the index say about
      yesterday's admission today"; neighbors can be corpus vectors OR
      other admitted batch vectors.

    One row per batch doc across both days: doc_id, day, n_store_dups
    (verified near-dups vs the store as-of that day — day 1 counts
    day-0 admissions), admitted, cell, cell_cosine (the appended
    assignment row read back, guarding the parquet seam), nn_id,
    nn_cosine. The single oracle hash therefore pins the whole chain:
    greedy two-day admission, the band-store append seam, the frozen-
    centroid routing, the assignment-store append seam, and the serve
    read — if any store write lost or mutated a row, some column here
    would drift. Every stage is batch-sized except the stored-artifact
    scans (trained sampled at 100 TB); the admission/dup frames are
    localCheckpoint snapshots because each day's plan READS the store
    that day then APPENDS to (the gate_batch lesson from
    streaming/composed.py, in the batch flagship).

    r16 shape (guide §2.4/§2.6): BOTH days' band/shingle artifacts are
    one signature pass over the combined batch, persisted — the gates,
    pair joins and store appends all slice that table instead of
    re-running the shingle+minhash lineage (five recomputes per day
    before). Bands are a pure function of the doc text, so the slices
    are bit-identical to per-day rebuilds. Independent store chains
    overlap on the job axis from driver threads: the corpus band and
    shingle writes, the batch-artifact materializations, and the whole
    IVF train+assign chain (which depends on nothing the admission
    chain produces) back-fill each other's stragglers; the day-0 ->
    day-1 -> append ordering the store contract requires stays
    strictly sequential."""
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        bands_from_shingle_sets,
        bloom_neardup_prefilter,
        incremental_neardup_pairs,
        shingle_sets,
    )
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        ivf_append_assign,
        ivf_centroids,
        topk_ivf,
    )

    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    mod = _INCR_BATCH_MOD
    corpus = docs.where(F.col("doc_id") % mod != 0)
    batch_all = docs.where(F.col("doc_id") % mod == 0)
    day0_pred = F.col("doc_id") % (2 * mod) == 0
    day1_pred = (F.col("doc_id") % mod == 0) & ~day0_pred
    store = tempfile.mkdtemp(prefix="handoff_")

    # both days' batch artifacts from ONE signature pass (batch-sized);
    # the band table derives from the persisted shingle sets (r16,
    # bands_from_shingle_sets — bit-identical), so the batch text is
    # tokenized+shingled exactly once
    batch_sh = cached(shingle_sets(batch_all))
    batch_bands = cached(bands_from_shingle_sets(batch_sh))

    def _ivf_chain():
        spark.sparkContext.setJobDescription("handoff: IVF train + corpus assign")
        base = emb.where(F.col("vec_id") % mod != 0)
        ivf_centroids(base).write.parquet(f"{store}/centroids")
        c = spark.read.parquet(f"{store}/centroids")
        ivf_append_assign(base, c).write.parquet(f"{store}/assign")
        return c

    def _job(desc, fn):
        def run():
            spark.sparkContext.setJobDescription(f"handoff: {desc}")
            fn()
        return run

    def _dedup_stores():
        # shingle store first, band store DERIVED from it (r16,
        # bands_from_shingle_sets): one corpus tokenize+shingle pass
        # builds both artifacts; the pair stays one sequential chain in
        # its pool slot while the heterogeneous IVF chain overlaps it
        shingle_sets(corpus).write.parquet(f"{store}/shingles")
        bands_from_shingle_sets(
            spark.read.parquet(f"{store}/shingles")
        ).write.parquet(f"{store}/bands")

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_ivf = pool.submit(_ivf_chain)
        setup = [
            pool.submit(_job("corpus shingle+band stores", _dedup_stores)),
            pool.submit(_job("batch band artifacts", lambda: batch_bands.count())),
            pool.submit(_job("batch shingle artifacts", lambda: batch_sh.count())),
        ]
        for f in setup:
            f.result()

        def _admit_and_append(day_pred) -> tuple[DataFrame, DataFrame]:
            """One ingest day: gate against the store AS-OF NOW, snapshot
            the decisions, then append the admissions' artifacts (sliced
            from the precomputed batch tables). Returns (admitted_ids,
            dups) as eager snapshots — both plans read the very store
            this function then mutates."""
            batch = docs.where(day_pred)
            b_bands = batch_bands.where(day_pred)
            b_sh = batch_sh.where(day_pred)
            bands_now = spark.read.parquet(f"{store}/bands")
            sh_now = spark.read.parquet(f"{store}/shingles")
            gate = bloom_neardup_prefilter(batch, bands_now, batch_bands=b_bands)
            flagged_ids = gate.where(F.col("maybe_neardup")).select("doc_id")
            pairs = incremental_neardup_pairs(
                batch.join(flagged_ids, "doc_id", "left_semi"),
                bands_now,
                sh_now,
                batch_bands=b_bands.join(flagged_ids, "doc_id", "left_semi"),
                batch_shingles=b_sh.join(flagged_ids, "doc_id", "left_semi"),
            )
            dups = (
                pairs.groupBy(F.col("new_id").alias("doc_id"))
                .agg(F.count("*").cast("long").alias("n_store_dups"))
                .localCheckpoint(eager=True)
            )
            admitted = (
                batch.select("doc_id")
                .join(dups.select("doc_id"), "doc_id", "left_anti")
                .localCheckpoint(eager=True)
            )
            appends = [
                pool.submit(
                    _job(
                        "band store append",
                        lambda: b_bands.join(admitted, "doc_id", "left_semi")
                        .write.mode("append")
                        .parquet(f"{store}/bands"),
                    )
                ),
                pool.submit(
                    _job(
                        "shingle store append",
                        lambda: b_sh.join(admitted, "doc_id", "left_semi")
                        .write.mode("append")
                        .parquet(f"{store}/shingles"),
                    )
                ),
            ]
            for f in appends:
                f.result()
            return admitted, dups

        adm0, dups0 = _admit_and_append(day0_pred)
        adm1, dups1 = _admit_and_append(day1_pred)
        adm_ids = adm0.union(adm1)
        cents = f_ivf.result()

    adm_vec = emb.join(
        adm_ids.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left_semi"
    )
    ivf_append_assign(adm_vec, cents).write.mode("append").parquet(f"{store}/assign")
    assign = spark.read.parquet(f"{store}/assign")

    nn = topk_ivf(emb, adm_vec.select("vec_id"), k=1, assign=assign).select(
        F.col("query_id").alias("doc_id"),
        F.col("neighbor_id").alias("nn_id"),
        F.col("cosine").alias("nn_cosine"),
    )
    admitted_flag = F.col("_adm").isNotNull()
    return (
        docs.where(F.col("doc_id") % mod == 0)
        .select("doc_id")
        .join(dups0.union(dups1), "doc_id", "left")
        .join(adm_ids.withColumn("_adm", F.lit(1)), "doc_id", "left")
        .join(
            assign.select(F.col("vec_id").alias("doc_id"), "cell", "cell_cosine"),
            "doc_id",
            "left",
        )
        .join(nn, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("doc_id") % (2 * mod) == 0, 0).otherwise(1).cast("int").alias("day"),
            F.coalesce(F.col("n_store_dups"), F.lit(0)).cast("long").alias("n_store_dups"),
            admitted_flag.alias("admitted"),
            F.when(admitted_flag, F.col("cell")).cast("int").alias("cell"),
            F.when(admitted_flag, F.col("cell_cosine")).alias("cell_cosine"),
            "nn_id",
            "nn_cosine",
        )
    )


@register(
    "ingest_replay_idempotent",
    _SQL_MINHASH_BANDS
    + f""",
cand1 AS (
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash
    WHERE a.doc_id % {_INCR_BATCH_MOD} = 0 AND b.doc_id % {_INCR_BATCH_MOD} <> 0
),
dups1 AS (
    SELECT new_id, CAST(count(*) AS BIGINT) AS n
    FROM ({_SQL_HANDOFF_VERIFY.format(cand="cand1")})
    WHERE round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) >= 0.5
    GROUP BY new_id
),
adm1 AS (
    SELECT doc_id FROM documents
    WHERE doc_id % {_INCR_BATCH_MOD} = 0
      AND doc_id NOT IN (SELECT new_id FROM dups1)
),
store2 AS (
    SELECT doc_id FROM documents WHERE doc_id % {_INCR_BATCH_MOD} <> 0
    UNION ALL SELECT doc_id FROM adm1
),
cand2 AS (
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash
    JOIN store2 s ON s.doc_id = b.doc_id
    WHERE a.doc_id % {_INCR_BATCH_MOD} = 0
),
nd2 AS (
    SELECT new_id, CAST(count(*) AS BIGINT) AS n
    FROM ({_SQL_HANDOFF_VERIFY.format(cand="cand2")})
    WHERE round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) >= 0.5
    GROUP BY new_id
),
bands_cnt AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS nb
    FROM bands
    WHERE doc_id IN (SELECT doc_id FROM adm1)
    GROUP BY doc_id
)
SELECT d.doc_id,
       du.new_id IS NULL AS admitted,
       coalesce(du.n, 0) AS n_store_dups_d1,
       coalesce(n2.n, 0) AS n_store_dups_replay,
       n2.new_id IS NOT NULL AS replay_neardup,
       ad.doc_id IS NOT NULL AS replay_ledger,
       (n2.new_id IS NULL AND ad.doc_id IS NULL) AS replay_admitted,
       coalesce(bc.nb, 0) AS bands_in_store
FROM documents d
LEFT JOIN dups1 du ON du.new_id = d.doc_id
LEFT JOIN nd2 n2 ON n2.new_id = d.doc_id
LEFT JOIN adm1 ad ON ad.doc_id = d.doc_id
LEFT JOIN bands_cnt bc ON bc.doc_id = d.doc_id
WHERE d.doc_id % {_INCR_BATCH_MOD} = 0
""",
)
def ingest_replay_idempotent_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingestion under AT-LEAST-ONCE delivery: the same
    batch is delivered TWICE through the admission chain against one
    real parquet store, and the hash pins that the replay is a no-op.
    Two mechanisms, both exercised:

    - **Near-dup self-match**: an admitted doc's bands/shingles are in
      the store after delivery 1, so on replay it matches ITSELF at
      Jaccard exactly 1.0 through the ordinary Bloom -> band join ->
      verify chain — the store is its own replay memory for every doc
      that carries a signature.
    - **Admission ledger**: docs too short to shingle (< 3 tokens)
      append nothing, so the self-match cannot reject them; the exact
      doc_id ledger written with the admissions does. Replay gates on
      BOTH; the pinned invariant is replay_admitted = false for every
      doc, i.e. a redelivered batch admits nothing and appends nothing.

    One row per batch doc: doc_id, admitted (delivery 1),
    n_store_dups_d1 (verified near-dups vs the pre-append store),
    n_store_dups_replay (vs the POST-append store — admitted docs count
    their self-match plus any admitted near-dups; rejected docs keep
    their corpus dups), replay_neardup / replay_ledger (which gate
    caught the redelivery), replay_admitted (false everywhere), and
    bands_in_store (this doc's band rows in the final store: its band
    count if admitted, else 0 — a double-append would read 2x). The
    oracle rebuilds both deliveries declaratively; the Bloom gate's
    no-false-negatives property is load-bearing on the replay side
    too (a dropped self-match would flip replay_neardup).

    At 100 TB this is the idempotence contract that lets the ingest
    run under Spark's at-least-once foreachBatch semantics without a
    transactional store: every stage is batch-sized, the ledger is an
    admitted-ids parquet the gate anti-joins (batch-sized probe), and
    replay cost equals one ordinary gate pass."""
    import tempfile

    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        bands_from_shingle_sets,
        bloom_neardup_prefilter,
        incremental_neardup_pairs,
        shingle_sets,
    )

    docs = _docs(spark, sf_dir)
    mod = _INCR_BATCH_MOD
    batch = docs.where(F.col("doc_id") % mod == 0)
    corpus = docs.where(F.col("doc_id") % mod != 0)
    store = tempfile.mkdtemp(prefix="replay_")
    # band store derived from the shingle store (r16 — one corpus
    # tokenize+shingle pass, bit-identical bands)
    shingle_sets(corpus).write.parquet(f"{store}/shingles")
    bands_from_shingle_sets(
        spark.read.parquet(f"{store}/shingles")
    ).write.parquet(f"{store}/bands")

    def _deliver(ledger: DataFrame | None) -> tuple[DataFrame, DataFrame]:
        """One delivery of ``batch``: gate against the store as-of now
        (near-dup chain + optional admission ledger), snapshot the
        decisions (the plans read the store this function then
        appends to), append the admissions' artifacts."""
        bands_now = spark.read.parquet(f"{store}/bands")
        sh_now = spark.read.parquet(f"{store}/shingles")
        gate = bloom_neardup_prefilter(batch, bands_now)
        flagged = batch.join(
            gate.where(F.col("maybe_neardup")).select("doc_id"), "doc_id", "left_semi"
        )
        pairs = incremental_neardup_pairs(flagged, bands_now, sh_now)
        nd = (
            pairs.groupBy(F.col("new_id").alias("doc_id"))
            .agg(F.count("*").cast("long").alias("n"))
            .localCheckpoint(eager=True)
        )
        admitted = batch.join(nd.select("doc_id"), "doc_id", "left_anti")
        if ledger is not None:
            admitted = admitted.join(ledger, "doc_id", "left_anti")
        admitted = admitted.localCheckpoint(eager=True)
        # admitted appends share one batch shingle pass (r16): persist
        # the sets, derive the band append from the cached arrays
        adm_sh = cached(shingle_sets(admitted))
        adm_sh.write.mode("append").parquet(f"{store}/shingles")
        bands_from_shingle_sets(adm_sh).write.mode("append").parquet(f"{store}/bands")
        return admitted, nd

    adm1, nd1 = _deliver(None)
    adm1.select("doc_id").write.parquet(f"{store}/ledger")
    ledger = spark.read.parquet(f"{store}/ledger")
    adm2, nd2 = _deliver(ledger)
    bands_final = spark.read.parquet(f"{store}/bands")
    bcnt = bands_final.groupBy("doc_id").agg(F.count("*").cast("long").alias("_nb"))
    return (
        batch.select("doc_id")
        .join(nd1.withColumnRenamed("n", "_n1"), "doc_id", "left")
        .join(nd2.withColumnRenamed("n", "_n2"), "doc_id", "left")
        .join(ledger.withColumn("_led", F.lit(1)), "doc_id", "left")
        .join(adm2.select("doc_id").withColumn("_a2", F.lit(1)), "doc_id", "left")
        .join(bcnt, "doc_id", "left")
        .select(
            "doc_id",
            F.col("_n1").isNull().alias("admitted"),
            F.coalesce(F.col("_n1"), F.lit(0)).cast("long").alias("n_store_dups_d1"),
            F.coalesce(F.col("_n2"), F.lit(0))
            .cast("long")
            .alias("n_store_dups_replay"),
            F.col("_n2").isNotNull().alias("replay_neardup"),
            F.col("_led").isNotNull().alias("replay_ledger"),
            F.col("_a2").isNotNull().alias("replay_admitted"),
            F.coalesce(F.col("_nb"), F.lit(0)).cast("long").alias("bands_in_store"),
        )
    )


@register(
    "ingest_takedown_readmit",
    _SQL_MINHASH_BANDS
    + f""",
cand1 AS (
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash
    WHERE a.doc_id % {_INCR_BATCH_MOD} = 0 AND b.doc_id % {_INCR_BATCH_MOD} <> 0
),
dups1 AS (
    SELECT new_id, CAST(count(*) AS BIGINT) AS n
    FROM ({_SQL_HANDOFF_VERIFY.format(cand="cand1")})
    WHERE round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) >= 0.5
    GROUP BY new_id
),
adm1 AS (
    SELECT doc_id FROM documents
    WHERE doc_id % {_INCR_BATCH_MOD} = 0
      AND doc_id NOT IN (SELECT new_id FROM dups1)
),
kept AS (SELECT doc_id FROM adm1 WHERE doc_id % {2 * _INCR_BATCH_MOD} <> 0),
store2 AS (
    SELECT doc_id FROM documents WHERE doc_id % {_INCR_BATCH_MOD} <> 0
    UNION ALL SELECT doc_id FROM kept
),
cand2 AS (
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash
    JOIN store2 s ON s.doc_id = b.doc_id
    WHERE a.doc_id % {_INCR_BATCH_MOD} = 0
),
nd2 AS (
    SELECT new_id, CAST(count(*) AS BIGINT) AS n
    FROM ({_SQL_HANDOFF_VERIFY.format(cand="cand2")})
    WHERE round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) >= 0.5
    GROUP BY new_id
),
readmit AS (
    SELECT doc_id FROM documents
    WHERE doc_id % {_INCR_BATCH_MOD} = 0
      AND doc_id NOT IN (SELECT new_id FROM nd2)
      AND doc_id NOT IN (SELECT doc_id FROM kept)
),
in_store AS (SELECT doc_id FROM kept UNION SELECT doc_id FROM readmit),
bands_cnt AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS nb
    FROM bands
    WHERE doc_id IN (SELECT doc_id FROM in_store)
    GROUP BY doc_id
)
SELECT d.doc_id,
       du.new_id IS NULL AS admitted_d1,
       (du.new_id IS NULL AND d.doc_id % {2 * _INCR_BATCH_MOD} = 0) AS taken_down,
       coalesce(n2.n, 0) AS n_store_dups_resubmit,
       r.doc_id IS NOT NULL AS readmitted,
       coalesce(bc.nb, 0) AS bands_in_store
FROM documents d
LEFT JOIN dups1 du ON du.new_id = d.doc_id
LEFT JOIN nd2 n2 ON n2.new_id = d.doc_id
LEFT JOIN readmit r ON r.doc_id = d.doc_id
LEFT JOIN bands_cnt bc ON bc.doc_id = d.doc_id
WHERE d.doc_id % {_INCR_BATCH_MOD} = 0
""",
)
def ingest_takedown_readmit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dual of ingest_replay_idempotent: takedown must ERASE
    influence. Delivery 1 admits the batch and writes the
    band/shingle/ledger stores; then every admitted doc with
    doc_id % 14 == 0 is FORGOTTEN — all three stores are rewritten
    by keyed_takedown (the per-doc-row stores where purge ==
    rebuild structurally; the one store where it is not, the cluster
    labeling, has its own row in dedup_takedown_recluster). The full
    batch is then RE-SUBMITTED against the purged stores:

    - still-kept admissions reject themselves (self-match + ledger —
      the replay contract, unchanged by the purge around them);
    - previously-rejected docs are still rejected (their corpus dups
      were never purged);
    - forgotten docs are treated as BRAND-NEW: readmitted, unless
      they near-dup a REMAINING doc (e.g. an admitted twin that was
      not taken down — forgetting one copy does not unlock the
      other).

    One row per batch doc: doc_id, admitted_d1, taken_down,
    n_store_dups_resubmit, readmitted, bands_in_store (final store:
    kept docs keep their 4 rows, readmitted docs re-append exactly 4
    — a leaky purge or double-append would read 8, a ghost ledger row
    would flip readmitted). The oracle rebuilds delivery, purge, and
    resubmission declaratively; the hash therefore pins the purge
    seam of all three stores at once. At 100 TB the purge is one
    keyed_takedown per store (request-sized broadcast against the
    scan a compaction pays anyway) and resubmission costs one
    ordinary gate pass."""
    import tempfile

    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        bands_from_shingle_sets,
        bloom_neardup_prefilter,
        incremental_neardup_pairs,
        minhash_bands,
        minhash_signature,
        shingle_sets,
    )
    from calculate_file_content_size_for_vector_db_spark.operators.maintenance import keyed_takedown

    docs = _docs(spark, sf_dir)
    mod = _INCR_BATCH_MOD
    batch = docs.where(F.col("doc_id") % mod == 0)
    corpus = docs.where(F.col("doc_id") % mod != 0)
    store = tempfile.mkdtemp(prefix="takedown_readmit_")
    # band store derived from the shingle store (r16 — one corpus
    # tokenize+shingle pass, bit-identical bands)
    shingle_sets(corpus).write.parquet(f"{store}/shingles")
    bands_from_shingle_sets(
        spark.read.parquet(f"{store}/shingles")
    ).write.parquet(f"{store}/bands")

    def _gate(bands_now: DataFrame, sh_now: DataFrame, ledger: DataFrame | None):
        gate = bloom_neardup_prefilter(batch, bands_now)
        flagged = batch.join(
            gate.where(F.col("maybe_neardup")).select("doc_id"), "doc_id", "left_semi"
        )
        pairs = incremental_neardup_pairs(flagged, bands_now, sh_now)
        nd = (
            pairs.groupBy(F.col("new_id").alias("doc_id"))
            .agg(F.count("*").cast("long").alias("n"))
            .localCheckpoint(eager=True)
        )
        admitted = batch.join(nd.select("doc_id"), "doc_id", "left_anti")
        if ledger is not None:
            admitted = admitted.join(ledger, "doc_id", "left_anti")
        return admitted.localCheckpoint(eager=True), nd

    adm1, nd1 = _gate(
        spark.read.parquet(f"{store}/bands"),
        spark.read.parquet(f"{store}/shingles"),
        None,
    )
    # admitted appends share one batch shingle pass (r16): the shingle
    # sets persist and the band append derives from the cached arrays
    adm1_sh = cached(shingle_sets(adm1))
    adm1_sh.write.mode("append").parquet(f"{store}/shingles")
    bands_from_shingle_sets(adm1_sh).write.mode("append").parquet(f"{store}/bands")
    adm1.select("doc_id").write.parquet(f"{store}/ledger")

    # takedown: purge-rewrite each store with keyed_takedown (new
    # versioned paths — a parquet store cannot be overwritten from a
    # plan that reads it)
    td = adm1.where(F.col("doc_id") % (2 * mod) == 0).select("doc_id")
    for t in ("bands", "shingles", "ledger"):
        keyed_takedown(spark.read.parquet(f"{store}/{t}"), td, "doc_id").write.parquet(
            f"{store}/{t}_v2"
        )

    ledger2 = spark.read.parquet(f"{store}/ledger_v2")
    readmit, nd2 = _gate(
        spark.read.parquet(f"{store}/bands_v2"),
        spark.read.parquet(f"{store}/shingles_v2"),
        ledger2,
    )
    minhash_bands(minhash_signature(readmit)).write.mode("append").parquet(
        f"{store}/bands_v2"
    )
    bands_final = spark.read.parquet(f"{store}/bands_v2")
    bcnt = bands_final.groupBy("doc_id").agg(F.count("*").cast("long").alias("_nb"))
    return (
        batch.select("doc_id")
        .join(nd1.withColumnRenamed("n", "_n1"), "doc_id", "left")
        .join(td.withColumn("_td", F.lit(1)), "doc_id", "left")
        .join(nd2.withColumnRenamed("n", "_n2"), "doc_id", "left")
        .join(readmit.select("doc_id").withColumn("_re", F.lit(1)), "doc_id", "left")
        .join(bcnt, "doc_id", "left")
        .select(
            "doc_id",
            F.col("_n1").isNull().alias("admitted_d1"),
            F.col("_td").isNotNull().alias("taken_down"),
            F.coalesce(F.col("_n2"), F.lit(0))
            .cast("long")
            .alias("n_store_dups_resubmit"),
            F.col("_re").isNotNull().alias("readmitted"),
            F.coalesce(F.col("_nb"), F.lit(0)).cast("long").alias("bands_in_store"),
        )
    )


@register(
    "composed_faces_ledger",
    # MATERIALIZED hints are load-bearing for oracle runtime: vpairs
    # (the verified near-dup pair table) feeds six admission
    # subqueries, and DuckDB re-inlines an un-hinted CTE into each —
    # 97s -> 0.3s at sf0.01, identical rows.
    _SQL_MINHASH_BANDS.replace("sh_t AS (", "sh_t AS MATERIALIZED (")
    + f""",
cpairs AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash
    WHERE a.doc_id < b.doc_id
),
vpairs AS MATERIALIZED (
    SELECT p.a_id, p.b_id
    FROM cpairs p
    JOIN sh_t sa ON sa.doc_id = p.a_id
    JOIN sh_t sb ON sb.doc_id = p.b_id
    WHERE round(len(list_intersect(sa.sh, sb.sh)) /
          CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE),
          6) >= 0.5
),
adm0 AS (
    SELECT doc_id FROM documents WHERE doc_id % 3 = 0
      AND doc_id NOT IN (SELECT b_id FROM vpairs WHERE a_id % 3 = 0 AND b_id % 3 = 0)
),
adm1 AS (
    SELECT doc_id FROM documents WHERE doc_id % 3 = 1
      AND doc_id NOT IN (SELECT b_id FROM vpairs WHERE a_id % 3 = 1 AND b_id % 3 = 1)
      AND doc_id NOT IN (
          SELECT CASE WHEN a_id % 3 = 1 THEN a_id ELSE b_id END FROM vpairs
          WHERE (a_id % 3 = 1 AND b_id IN (SELECT doc_id FROM adm0))
             OR (b_id % 3 = 1 AND a_id IN (SELECT doc_id FROM adm0))
      )
),
adm01 AS MATERIALIZED (SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1),
adm2 AS (
    SELECT doc_id FROM documents WHERE doc_id % 3 = 2
      AND doc_id NOT IN (SELECT b_id FROM vpairs WHERE a_id % 3 = 2 AND b_id % 3 = 2)
      AND doc_id NOT IN (
          SELECT CASE WHEN a_id % 3 = 2 THEN a_id ELSE b_id END FROM vpairs
          WHERE (a_id % 3 = 2 AND b_id IN (SELECT doc_id FROM adm01))
             OR (b_id % 3 = 2 AND a_id IN (SELECT doc_id FROM adm01))
      )
),
admitted AS MATERIALIZED (SELECT doc_id FROM adm01 UNION ALL SELECT doc_id FROM adm2),
adm_docs AS MATERIALIZED (SELECT d.* FROM documents d JOIN admitted a USING (doc_id)),
m AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           CAST(count(DISTINCT source) AS DOUBLE) AS n_sources,
           CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs,
           CAST(sum(len({_SQL_TOKENS})) AS DOUBLE) AS total_tokens,
           CAST(sum(length(text)) AS DOUBLE) AS total_chars,
           CAST(sum(CASE WHEN len({_SQL_TOKENS}) = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n_empty
    FROM adm_docs
),
tl AS (
    SELECT CAST(max(c) AS DOUBLE) AS top_lang_docs
    FROM (SELECT count(*) AS c FROM adm_docs GROUP BY lang)
),
hh AS (
    SELECT CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h
    FROM adm_docs WHERE text IS NOT NULL
),
rr AS (
    SELECT CAST(h % 256 AS INT) AS reg,
           max(CAST(CASE WHEN h // 256 = 0 THEN 53
               ELSE 53 - length(bin(h // 256)) END AS INT)) AS rho
    FROM hh GROUP BY 1
),
uq AS (
    SELECT round(CASE WHEN raw <= CAST(640.0 AS DOUBLE) AND zeros > 0
                 THEN CAST(256.0 AS DOUBLE) * ln(CAST(256.0 AS DOUBLE) / zeros)
                 ELSE raw END, 6) AS est_uniq_texts
    FROM (SELECT CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 256) * 256 * 256
                     / (sum(pow(CAST(2.0 AS DOUBLE), -rho)) + (256 - count(*))) AS raw,
                 CAST(256 - count(*) AS DOUBLE) AS zeros
          FROM rr)
),
card AS (
    SELECT n_docs, n_sources, n_langs, total_tokens, total_chars, n_empty,
           round(n_empty / n_docs, 6) AS empty_fraction,
           est_uniq_texts,
           round(greatest(CAST(0.0 AS DOUBLE), 1.0 - est_uniq_texts / n_docs), 6)
               AS approx_dup_fraction,
           round(total_tokens / n_docs, 6) AS mean_doc_tokens,
           round(top_lang_docs / n_docs, 6) AS top_lang_share
    FROM m, tl, uq
),
ha AS (
    SELECT CAST(least(floor(length(text) / 8), 255) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS ca
    FROM documents WHERE text IS NOT NULL GROUP BY 1
),
hb AS (
    SELECT CAST(least(floor(length(text) / 8), 255) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS cb
    FROM adm_docs WHERE text IS NOT NULL GROUP BY 1
),
hj AS (
    SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
    FROM ha FULL OUTER JOIN hb USING (bin)
),
hn AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM hj),
hp AS (
    SELECT round(sum((p - q) * ln(p / q)), 6) AS psi_length
    FROM (SELECT (ca + 1) / CAST(na + 256 AS DOUBLE) AS p,
                 (cb + 1) / CAST(nb + 256 AS DOUBLE) AS q
          FROM hj, hn)
),
la AS (SELECT lang, CAST(count(*) AS BIGINT) AS ca FROM documents GROUP BY lang),
lb AS (SELECT lang, CAST(count(*) AS BIGINT) AS cb FROM adm_docs GROUP BY lang),
lk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM
       (SELECT lang FROM la UNION SELECT lang FROM lb)),
lj AS (
    SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
    FROM la FULL OUTER JOIN lb USING (lang)
),
ln_ AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM lj),
lp AS (
    SELECT round(sum((p - q) * ln(p / q)), 6) AS psi_lang
    FROM (SELECT (ca + 1) / CAST(na + k AS DOUBLE) AS p,
                 (cb + 1) / CAST(nb + k AS DOUBLE) AS q
          FROM lj, ln_, lk)
),
nn AS (
    SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n_base,
           CAST((SELECT count(*) FROM admitted) AS DOUBLE) AS n_batch
)
SELECT 'n_admitted_t' || CAST(doc_id % 3 AS VARCHAR) AS metric,
       CAST(count(*) AS DOUBLE) AS value
FROM admitted GROUP BY 1
UNION ALL SELECT 'n_docs', n_docs FROM card
UNION ALL SELECT 'n_sources', n_sources FROM card
UNION ALL SELECT 'n_langs', n_langs FROM card
UNION ALL SELECT 'total_tokens', total_tokens FROM card
UNION ALL SELECT 'total_chars', total_chars FROM card
UNION ALL SELECT 'n_empty', n_empty FROM card
UNION ALL SELECT 'empty_fraction', empty_fraction FROM card
UNION ALL SELECT 'est_uniq_texts', est_uniq_texts FROM card
UNION ALL SELECT 'approx_dup_fraction', approx_dup_fraction FROM card
UNION ALL SELECT 'mean_doc_tokens', mean_doc_tokens FROM card
UNION ALL SELECT 'top_lang_share', top_lang_share FROM card
UNION ALL SELECT 'n_base', n_base FROM nn
UNION ALL SELECT 'n_batch', n_batch FROM nn
UNION ALL SELECT 'psi_length', psi_length FROM hp
UNION ALL SELECT 'psi_lang', psi_lang FROM lp
UNION ALL SELECT 'drift_flag',
       CAST(CASE WHEN hp.psi_length > 0.2 OR lp.psi_lang > 0.2
            THEN 1.0 ELSE 0.0 END AS DOUBLE)
FROM hp, lp
""",
)
def composed_faces_ledger_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed streaming faces under a DuckDB oracle (VERDICT r09
    item 7's suggested closure): the documents table streams through
    THREE sequential triggers (doc_id % 3) of the exact batch bodies
    the faces run — gate_batch admits each trigger against the shared
    band/shingle store as-of that trigger, then append_card_partials
    and append_drift_marginals record the ADMITTED docs — and the
    result is the ops ledger read entirely from the store folds:
    per-trigger admission counts, the full 11-metric data card
    (read_datacard over the card store), and the ingest-vs-reference
    drift row (read_drift with the full corpus as reference). The
    oracle recomputes everything declaratively: sequential greedy
    admission (trigger t rejects against admitted(<t) via verified
    J>=0.5 band pairs, plus the within-batch smaller-id rule), the
    card SQL over the admitted set, and the PSI SQL over
    full-corpus-vs-admitted marginals — so the single hash pins the
    gate's cross-trigger store memory, the card and drift store/fold
    seams, and the admitted-docs-only composition contract at once
    (the stream-test twin:
    tests/test_streaming.py::test_streaming_composed_faces_share_one_store).
    The index face is deliberately out of scope here — its two store
    seams are oracle-pinned by ingest_serve_handoff (assignment) and
    dedup_incremental_bloom (bitmap). Per-trigger cost is
    batch-sized; the fold reads are metadata-scale
    (1 + |langs| + |sources| + m rows per trigger, forever)."""
    import tempfile

    from calculate_file_content_size_for_vector_db_spark.streaming.datacard import (
        append_card_partials,
        read_datacard,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.drift import (
        append_drift_marginals,
        read_drift,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.neardup import gate_batch

    docs = _docs(spark, sf_dir)
    store = tempfile.mkdtemp(prefix="faces_ledger_")
    for t in range(3):
        batch = docs.where(F.col("doc_id") % 3 == t)
        with cache_scope(spark):
            admitted = gate_batch(
                batch, f"{store}/bands", f"{store}/shingles", f"{store}/admitted"
            )
            if admitted.count():
                append_card_partials(admitted, t, f"{store}/card")
                append_drift_marginals(admitted, t, f"{store}/drift")

    adm_counts = (
        spark.read.parquet(f"{store}/admitted")
        .select(
            F.concat(F.lit("n_admitted_t"), (F.col("doc_id") % 3).cast("string")).alias(
                "metric"
            )
        )
        .groupBy("metric")
        .agg(F.count("*").cast("double").alias("value"))
    )
    card = read_datacard(spark, f"{store}/card")
    drift = read_drift(spark, docs, f"{store}/drift").selectExpr(
        "stack(5, 'n_base', CAST(n_base AS DOUBLE), 'n_batch', CAST(n_batch AS DOUBLE), "
        "'psi_length', psi_length, 'psi_lang', psi_lang, "
        "'drift_flag', CAST(CASE WHEN drift_flag THEN 1.0 ELSE 0.0 END AS DOUBLE)) "
        "AS (metric, value)"
    )
    return adm_counts.unionByName(card).unionByName(drift)


@register("upsert_face_relabel")
def upsert_face_relabel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING upsert face end-to-end (VERDICT r13 item 6: the
    one face without a registered row) — and oracle-backed rather
    than the rows-only registration the budget note anticipated: a
    real readStream -> start_face(upsert_store_batch) query drains
    one availableNow trigger carrying every 13th doc's
    edited re-delivery against the full dedup store (admitted + bands
    + shingles + labels, artifact-first build), and the returned
    labels STORE must hash-equal dedup_upsert_relabel's oracle: a
    from-scratch transitive-closure clustering of the CURRENT corpus.
    One hash therefore pins the whole face stack — checkpointed
    trigger plumbing, in-trigger heal, the deterministic
    duplicate-delivery collapse, the crash-safe swap rewrites of all
    four stores, and the one purge-and-insert trigger body the
    takedown and lifecycle faces share (streaming/upsert.py) — not
    just the batch verb the relabel row already covers. Replay/crash
    seams are pinned
    suite-side (tests/test_streaming.py upsert-face tests; the face
    runs under session.cache_scope). At 100 TB the
    trigger is batch-sized by construction (the face's contract);
    the store rewrites are the linear scans a compaction pays."""
    import tempfile

    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        bands_from_shingle_sets,
        neardup_clusters,
        shingle_sets,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming import start_face
    from calculate_file_content_size_for_vector_db_spark.streaming.upsert import upsert_store_batch

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    store = tempfile.mkdtemp(prefix="upsert_face_store_")
    # admitted carries exactly the columns a re-delivery replaces
    # (doc_id, text) — the face's keyed_upsert swaps full rows, so
    # store schema == re-delivery schema is the producer contract.
    # Band store derived from the shingle store (r16,
    # bands_from_shingle_sets — bit-identical): one tokenize+shingle
    # pass builds both artifacts.
    docs.write.parquet(f"{store}/admitted")
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
    changed = docs.where(F.col("doc_id") % 13 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" spark spark hash")).alias("text")
    )
    redeliveries = tempfile.mkdtemp(prefix="upsert_face_batch_")
    changed.coalesce(1).write.mode("overwrite").parquet(redeliveries)
    stream = spark.readStream.schema("doc_id long, text string").parquet(redeliveries)
    q = start_face(
        stream, tempfile.mkdtemp(prefix="upsert_face_ckpt_"), upsert_store_batch, store
    )
    # availableNow must DRAIN before the labels store is read: a False
    # return means the trigger may still be mid-rewrite, and reading
    # now would be a wrong-but-quiet hash (ADVICE r14 item 1) — fail
    # loud instead.
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("upsert face did not drain in 600s")
    return spark.read.parquet(f"{store}/labels")


from calculate_file_content_size_for_vector_db_spark.entry_queries._core import REGISTRY as _REG

_REG["upsert_face_relabel"].oracle = _REG["dedup_upsert_relabel"].oracle


# The composed lifecycle row's corpus after ONE mixed trigger:
# every 17th vector FORGOTTEN (takedown wins, so the three ids
# divisible by both 17 and 13 — 0, 221, 442 at the 500-vector
# fixture — are gone even though the trigger also carries their
# re-delivery), every surviving 13th vector re-delivered with a
# deterministically changed embedding (the reversed vector —
# sim_ivf_upsert's convention). The IVF store is the VERDICT-named
# cheap composition target: its repair verbs are broadcast
# anti-joins + frozen-centroid re-assignment, no iterative CC — the
# dedup-store leg (one star-CC solve per trigger since the mixed
# trigger became one pass) is pinned byte-for-byte against the
# takedown-then-upsert sequence suite-side instead
# (tests/test_lifecycle_face.py), and the solo takedown and upsert
# triggers are themselves oracle-hashed against full rebuilds
# (dedup_takedown_recluster / dedup_upsert_relabel).
_LC_TD_MOD = 17

from calculate_file_content_size_for_vector_db_spark.entry_queries.similarity import (  # noqa: E402
    _SQL_IVF,
)


# Fixture bound (the standing convention for rows whose oracle pins
# the fixed 8-cell kmeans chain — cell width grows with SF, so cap
# the corpus identically on BOTH engines): vec_id < 250 keeps cold
# centroid training inside the sweep's per-row budget at position 0
# while both ghost ids (0, 221) stay in range.
_LC_CAP = 250


@register(
    "lifecycle_takedown_upsert",
    f"""
WITH {_SQL_IVF.replace("FROM embeddings", f"FROM embeddings WHERE vec_id < {_LC_CAP}")},
cur AS (
    SELECT vec_id, v FROM e WHERE vec_id % {_LC_TD_MOD} <> 0 AND vec_id % 13 <> 0
    UNION ALL
    SELECT vec_id, list_reverse(v) AS v
    FROM e WHERE vec_id % {_LC_TD_MOD} <> 0 AND vec_id % 13 = 0
),
up AS (
    SELECT vec_id, cell, cell_cosine FROM (
        SELECT a.vec_id, c.cell,
               round(list_cosine_similarity(a.v, c.cv), 6) AS cell_cosine,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round(list_cosine_similarity(a.v, c.cv), 6) DESC, c.cell) AS rn
        FROM cur a, cent c
    ) WHERE rn = 1
)
SELECT vec_id, CAST(cell AS INT) AS cell, cell_cosine FROM up
""",
)
def lifecycle_takedown_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed day-2 lifecycle in ONE streaming trigger (VERDICT
    r14 item 2 — the last uncovered seam: every store verb registered
    alone, never composed in a single trigger): one availableNow
    micro-batch carries BOTH right-to-be-forgotten requests (every
    17th vector) and upsert re-deliveries (every 13th vector,
    deterministically re-embedded) against ONE stored IVF index,
    driven through a real readStream ->
    start_face(lifecycle_store_batch) query (streaming/upsert.py):
    ONE pass purges the forgotten and the re-delivered ids and
    re-assigns the re-delivered vectors against the FROZEN stored
    centroids, under one cache_scope. The
    returned assignment STORE must hash-equal a from-scratch
    frozen-centroid assignment of the post-trigger corpus (survivors,
    with the re-delivered vectors reversed) — which is simultaneously
    the GHOST check: the trigger deliberately carries re-deliveries
    for the three ids divisible by both mods (0, 221, 442), and
    takedown precedence means the oracle corpus excludes them, so a
    forgotten id resurfacing through the upsert leg would flip the
    hash. Composition == solo-sequence byte-equality, the dedup-store
    (label-repair) composition, the index leg, replay idempotence,
    and unknown-action loudness are pinned suite-side
    (tests/test_lifecycle_face.py). At 100 TB the trigger stays
    request/batch-sized: broadcast anti-joins against one linear
    store scan, a batch-sized frozen-centroid re-assignment — the
    mixed trigger adds only the batch-sized split."""
    import tempfile

    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        ivf_append_assign,
        ivf_centroids,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming import start_face
    from calculate_file_content_size_for_vector_db_spark.streaming.upsert import (
        lifecycle_store_batch,
    )

    emb = _emb(spark, sf_dir).where(F.col("vec_id") < _LC_CAP)
    store = tempfile.mkdtemp(prefix="lifecycle_store_")
    # centroids train ONCE on the original corpus and freeze — the
    # face's upsert leg re-assigns against the STORE, never retrains.
    # The base assignment reads those written centroids back instead of
    # calling ivf_assign (which would unroll a SECOND bit-identical
    # Lloyd training into the assign plan — guide §2.4; training is
    # deterministic, so assign-against-store == assign-inline).
    ivf_centroids(emb).write.parquet(f"{store}/index/centroids")
    ivf_append_assign(
        emb, spark.read.parquet(f"{store}/index/centroids")
    ).write.parquet(f"{store}/index/assign")
    trigger = (
        emb.where(F.col("vec_id") % _LC_TD_MOD == 0)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.lit("takedown").alias("action"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("array<double>").alias("embedding"),
        )
        .unionByName(
            # ALL % 13 ids, ghosts included — the face must drop them
            emb.where(F.col("vec_id") % 13 == 0).select(
                F.col("vec_id").alias("doc_id"),
                F.lit("upsert").alias("action"),
                F.concat(F.lit("re-embedded "), F.col("vec_id")).alias("text"),
                F.reverse("embedding").cast("array<double>").alias("embedding"),
            )
        )
    )
    batch_dir = tempfile.mkdtemp(prefix="lifecycle_batch_")
    trigger.coalesce(1).write.mode("overwrite").parquet(batch_dir)
    stream = spark.readStream.schema(
        "doc_id long, action string, text string, embedding array<double>"
    ).parquet(batch_dir)
    q = start_face(
        stream, tempfile.mkdtemp(prefix="lifecycle_ckpt_"), lifecycle_store_batch, store
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("lifecycle face did not drain in 600s")
    return spark.read.parquet(f"{store}/index/assign").select(
        "vec_id", F.col("cell").cast("int").alias("cell"), "cell_cosine"
    )
