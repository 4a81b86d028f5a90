"""Scale self-check: run the scale-path operators on a synthetic corpus
N x larger than the largest fixture, generated deterministically
in-flight (no driver-side data, no fixture modification).

    python tools/scale_check.py [n_docs] [n_vectors]
    python tools/scale_check.py --ladder
    python tools/scale_check.py --isolated op1,op2,...

Prints one JSON line with per-operator wall times. This is evidence
that the operator plans hold as data grows: generation is a narrow
projection over spark.range, so the measured cost is the operators'.

--ladder runs TWO tiers in one session (200k/50k docs/vectors, then
1M/100k) and prints per-operator time ratios next to the data-growth
factors, so "would survive 100x" claims ride a measured scaling slope
(VERDICT r05 item 5; results recorded in SCALE.md). Linear-plan ops
should track the data factor; the documented exact-quadratic baselines
(nn_grid_full, neardup_grid) should track its square.

--isolated re-measures a named op subset with ONE FRESH JVM PER TIER
(subprocess per tier, unselected ops and their store setups skipped).
This is the workflow that refuted the r08 in-ladder PQ ratios (SCALE.md
"PQ-family isolated re-measures"): late rows in a long single-JVM
ladder session overstate ratios via accumulated GC/session pressure, so
any out-of-band ladder row gets this isolated re-measure before it is
believed. --isolated-tier is the internal per-tier worker entry point.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.session import get_spark, release_cache

VOCAB = (
    "the a of and to in is key agg row scan slow fast table value part hash "
    "merge batch window spark join stream order column group customer query "
    "line data small big"
).split()


def synth_documents(spark, n_docs: int, words_per_doc: int = 80):
    """Deterministic word-soup docs, effectively unique per doc.

    The word index mixes a NONLINEAR d*i term: a purely linear formula
    (d*A + i*B) mod |V| makes text depend only on d mod |V|, i.e. the
    corpus becomes n/|V| exact copies of |V| texts — which turns every
    LSH bucket into an O((n/|V|)^2) pair bomb. Varying length + d*i
    mixing keeps documents distinct like a real corpus.
    """
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    d = F.col("id")
    n_words = (F.lit(40) + (d * 13 % 40)).cast("int")
    words = F.transform(
        F.sequence(F.lit(0), n_words - 1),
        lambda i: F.element_at(
            vocab,
            (
                (d * 2654435761 + i.cast("bigint") * 40503 + d * i.cast("bigint") * 97)
                % 1000003
                % len(VOCAB)
                + 1
            ).cast("int"),
        ),
    )
    return spark.range(n_docs).select(
        d.alias("doc_id"),
        F.array_join(words, " ").alias("text"),
    ).withColumn("n_chars", F.length("text"))


def synth_embeddings(spark, n_vectors: int, dim: int = 64):
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            ((F.col("id") * 64 + j.cast("bigint")) * 22695477 % 1000003) / 1000003.0 - 0.5
        ).cast("float"),
    )
    return spark.range(n_vectors).select(
        F.col("id").alias("vec_id"),
        vec.alias("embedding"),
        (F.col("id") % 10).cast("int").alias("label"),
    )


def run_tier(spark, n_docs: int, n_vec: int, only: set[str] | None = None) -> dict[str, float]:
    """Time the ladder ops at one tier. ``only`` restricts to a named
    subset (the --isolated path): unselected ops AND their setup blocks
    (stored band/shingle/centroid/edge tables) are skipped entirely, so
    an isolated run's JVM does nothing but the ops under re-measure."""
    import tempfile

    docs = synth_documents(spark, n_docs)
    emb = synth_embeddings(spark, n_vec)
    docs.write.mode("overwrite").format("noop").save()  # warm generation path

    from calculate_file_content_size_for_vector_db_spark.operators import dedup, similarity
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import quality_score
    from calculate_file_content_size_for_vector_db_spark.plans.pipeline import DocumentPipeline

    timings: dict[str, float] = {}

    def want(*names: str) -> bool:
        return only is None or bool(set(names) & only)

    def t(name, df):
        if only is not None and name not in only:
            return
        # a callable means the op does EAGER work at construction time
        # (localCheckpoint rounds in star CC / BPE training): build it
        # INSIDE the timer or the heavy stages escape measurement (the
        # r07 leakage_safe_split_capped "0.45s" artifact)
        t0 = time.perf_counter()
        if callable(df):
            df = df()
        df.write.mode("overwrite").format("noop").save()
        timings[name] = round(time.perf_counter() - t0, 2)
        print(f"# {name}: {timings[name]}s", file=sys.stderr)
        release_cache(spark)

    t("chunk_rollup", DocumentPipeline(spark, chunk_size=100).summary(docs))
    t("exact_dedup", dedup.exact_dedup(docs))
    t("minhash_signature", dedup.minhash_signature(docs))
    # capped buckets: this synthetic corpus is low-entropy (31-word
    # vocab) and produces ~250M intra-bucket candidate pairs uncapped
    t("minhash_lsh_pairs_capped", dedup.minhash_lsh_pairs(docs, max_bucket_size=64))
    t("simhash", dedup.simhash(docs))
    # wide sketch at scale: 28-bit -> 2^9 buckets per segment; the
    # bucket cap bounds this corpus' pathology (31-word soup collapses
    # sketches, so the TRUE near-dup pair set is itself quadratic)
    t("simhash_pairs_28bit_capped", dedup.simhash_pairs(docs, max_hamming=2, bits=28, max_bucket_size=64))
    t("quality", quality_score(docs).select("doc_id", "quality_score"))
    # round-6 doc-side additions: the CMS grid collapses map-side to a
    # fixed 4x128 key space (expect near-flat); BM25's scoring join is
    # posting-list-sized over the broadcast query terms (expect linear
    # in the token explode, sub-linear after)
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        bm25_search,
        cms_heavy_hitters,
    )

    t("cms_heavy_hitters", cms_heavy_hitters(docs))
    t("bm25_search", bm25_search(docs, [(0, "spark hash join"), (1, "table scan fast")]))
    t("lsh_buckets", similarity.lsh_buckets(emb))
    t("topk_lsh", similarity.topk_lsh(emb, emb.where("vec_id < 10")))
    # block-grid exact NN over the FULL vector set (the round-1 matrix
    # path collected the corpus to the driver; this one never does) —
    # n_blocks sized so each block matrix stays ~ (N/32) * 64 * 8 B
    t("nn_grid_full", similarity.topk_grid(emb, emb, 1, n_blocks=32))
    t("neardup_grid", similarity.cosine_neardup_pairs(emb, threshold=0.9, n_blocks=32))
    # PQ compression path (round 5): codebook training + encode is the
    # linear pass; ADC search touches only the m-byte code table; the
    # IVF×PQ composition prunes candidates to the query's cell inside
    # the join key; semantic dedup is one hash-agg over the code key
    t("pq_encode", similarity.pq_encode(emb))
    # the 100-TB training mode: codebooks trained on a 1% deterministic
    # sample, every vector still encoded — Lloyd's iterative cost drops
    # out of the linear pass (compare against pq_encode's ratio)
    t("pq_encode_sampled", similarity.pq_encode(emb, train_df=emb.where("vec_id % 100 = 0")))
    t("pq_topk", similarity.pq_topk(emb, emb.where("vec_id < 10")))
    # the STORED ADC serve (r14): codebooks + packed codes prebuilt to
    # parquet, the query pays only the LUT broadcast + the code-table
    # scan — pq_topk minus its training fixed cost; the one remaining
    # corpus-sized stage is the m-byte code scan, so the slope should
    # sit at-or-under pq_topk's (which is itself training-dominated)
    if want("pq_topk_serve_stored"):
        with tempfile.TemporaryDirectory() as tmp:
            similarity.pq_codebooks(emb).write.parquet(f"{tmp}/codebooks")
            pq_cb = spark.read.parquet(f"{tmp}/codebooks")
            similarity.pq_encode(emb, codebooks=pq_cb).write.parquet(f"{tmp}/codes")
            t(
                "pq_topk_serve_stored",
                similarity.pq_topk(
                    emb,
                    emb.where("vec_id < 10"),
                    codebooks=pq_cb,
                    codes=spark.read.parquet(f"{tmp}/codes"),
                ),
            )
    # PQ code-store upsert (r15, VERDICT r14 item 6): FIXED 200-vector
    # re-embedded batch against the stored packed code table — purge is
    # a request-sized anti-join over one linear store scan, the append
    # leg re-encodes only the batch against the FROZEN broadcast
    # codebooks, so at fixed batch the slope should track the vector
    # factor (the store scan) and nothing else: expect ~flat-to-linear
    # like graph_upsert_ivf's x1.01.
    if want("pq_upsert_fixed_batch"):
        with tempfile.TemporaryDirectory() as tmp:
            similarity.pq_codebooks(emb).write.parquet(f"{tmp}/ucodebooks")
            u_cb = spark.read.parquet(f"{tmp}/ucodebooks")
            similarity.pq_encode(emb, codebooks=u_cb).write.parquet(f"{tmp}/ucodes")
            changed_vecs = emb.where(F.col("vec_id") < 200).select(
                "vec_id", F.reverse("embedding").alias("embedding")
            )
            t(
                "pq_upsert_fixed_batch",
                lambda: similarity.pq_upsert(
                    spark.read.parquet(f"{tmp}/ucodes"), changed_vecs, u_cb
                ),
            )
    t("ivfpq_topk", similarity.topk_ivfpq(emb, emb.where("vec_id < 10")))
    t("semantic_dedup_pq", similarity.semantic_dedup_pq(emb))
    # the other three compressed-scan tiers (round 6): all linear
    # broadcast-queries x corpus passes + bounded exact rerank — their
    # slopes should track the vector factor like the PQ scan does
    t("topk_binary", similarity.topk_binary(emb, emb.where("vec_id < 10")))
    t("topk_int8", similarity.topk_int8(emb, emb.where("vec_id < 10")))
    t("topk_matryoshka", similarity.topk_matryoshka(emb, emb.where("vec_id < 10")))
    # round-7 additions: the trained logreg gate (GD is feature-table
    # joins — expect ~linear; the SAMPLED variant amortizes training
    # like pq_encode_sampled), the Gopher repetition explodes, graded
    # contamination (shingle equi-join, benchmark side 1%), the
    # probe-2 exact IVF search, and the dedup-aware split (star-
    # contraction CC over capped LSH pairs)
    from calculate_file_content_size_for_vector_db_spark.operators.curation import (
        contamination_score,
        leakage_safe_split,
        quality_classifier_score,
    )
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        repetition_filters,
    )

    pos = (F.col("doc_id") % 3) == 0
    t("quality_classifier", quality_classifier_score(docs, pos))
    t(
        "quality_classifier_sampled",
        quality_classifier_score(
            docs, pos, train_df=docs.where("doc_id % 100 = 0")
        ),
    )
    t("repetition_filters", repetition_filters(docs))
    t(
        "contamination_score_1pct",
        contamination_score(
            docs.where(F.col("doc_id") % 100 != 0),
            docs.where(F.col("doc_id") % 100 == 0),
        ),
    )
    t("topk_ivf_probe2", similarity.topk_ivf(emb, emb.where("vec_id < 10"), probes=2))
    t(
        "leakage_safe_split_capped",
        # Thunk: the star-contraction rounds run eagerly at
        # construction (localCheckpoint), so build inside the timer.
        lambda: leakage_safe_split(docs, max_bucket_size=64),
    )
    # wave 13/14 additions: the trained tokenizer (vocab-bounded — the
    # word dict of the synthetic corpus caps at |V|^3-ish shingle
    # combinations, so expect strongly sub-linear), its broadcast-join
    # application, and the versioning diff (fingerprints only shuffle)
    from calculate_file_content_size_for_vector_db_spark.operators.relational import (
        snapshot_diff,
    )
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        bpe_apply_tokens,
        bpe_train_merges,
    )

    # thunks: BPE training rounds localCheckpoint eagerly at build time
    t("bpe_train_merges", lambda: bpe_train_merges(docs))
    t("bpe_apply_tokens", lambda: bpe_apply_tokens(docs))
    t(
        "snapshot_diff",
        snapshot_diff(
            docs.where(F.col("doc_id") % 53 != 0),
            docs.where(F.col("doc_id") % 47 != 0),
        ),
    )
    # the daily-ingest op: 1% of docs arrive as a new batch; the corpus
    # side reads its STORED band/shingle tables (parquet), so only the
    # batch is signature-hashed — timing excludes the corpus build.
    # The Bloom pre-gate probes the SAME stored corpus's band bitmap:
    # its cost should stay flat-ish (batch-sized explode + broadcast
    # join against a bounded bitmap) while the corpus grows 5x.
    with tempfile.TemporaryDirectory() as tmp:
      if want("dedup_incremental_1pct", "bloom_prefilter_1pct", "cluster_append_1pct"):
        corpus = docs.where(F.col("doc_id") % 100 != 0)
        dedup.minhash_bands(dedup.minhash_signature(corpus)).write.parquet(f"{tmp}/bands")
        dedup.shingle_sets(corpus).write.parquet(f"{tmp}/sh")
        t(
            "dedup_incremental_1pct",
            dedup.incremental_neardup_pairs(
                docs.where(F.col("doc_id") % 100 == 0),
                spark.read.parquet(f"{tmp}/bands"),
                spark.read.parquet(f"{tmp}/sh"),
                max_bucket_size=64,
            ),
        )
        t(
            "bloom_prefilter_1pct",
            dedup.bloom_neardup_prefilter(
                docs.where(F.col("doc_id") % 100 == 0),
                spark.read.parquet(f"{tmp}/bands"),
            ),
        )
        # wave 31: incremental CC maintenance. The stored labeling is
        # built OUTSIDE the timer (offline, like the centroid store);
        # the timed op is the daily merge — batch pair generation off
        # the STORED band/shingle tables + star CC on the contracted
        # supergraph + the broadcast relabel. Claim: the only corpus-
        # sized stage is the store relabel scan, so the row should be
        # flat-to-sublinear while the corpus grows 5x (vs
        # leakage_safe_split_capped, which prices the FULL clustering
        # at each tier).
        if want("cluster_append_1pct"):
            corpus_pairs = dedup.minhash_lsh_pairs(corpus, max_bucket_size=64)
            dedup.star_components(
                corpus_pairs.select(
                    F.col("a_id").alias("src"), F.col("b_id").alias("dst")
                )
            ).select(F.col("node").alias("doc_id"), "cluster_id").write.parquet(
                f"{tmp}/labels"
            )
        def _cluster_append_1pct():
            batch = docs.where(F.col("doc_id") % 100 == 0)
            cross = dedup.incremental_neardup_pairs(
                batch,
                spark.read.parquet(f"{tmp}/bands"),
                spark.read.parquet(f"{tmp}/sh"),
                max_bucket_size=64,
            )
            within = dedup.minhash_lsh_pairs(batch, max_bucket_size=64)
            edges = cross.select(
                F.col("new_id").alias("src"), F.col("corpus_id").alias("dst")
            ).unionByName(
                within.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
            )
            return dedup.cluster_append(spark.read.parquet(f"{tmp}/labels"), edges)
        t("cluster_append_1pct", _cluster_append_1pct)
    # round-10: the DELETE path. Stored labeling + full-corpus
    # band/shingle stores built OUTSIDE the timer (they exist for the
    # corpus anyway); the timed op forgets 1% of docs and repairs only
    # the touched clusters — two store semi-joins (linear scans), then
    # pair regen + star CC sized by the touched-cluster neighborhoods.
    # On this low-entropy corpus the capped pair graph keeps
    # neighborhoods bounded, so expect ~linear (the store scans) with
    # a small constant.
    with tempfile.TemporaryDirectory() as tmp:
      if want("cluster_takedown_1pct"):
        dedup.minhash_bands(dedup.minhash_signature(docs)).write.parquet(
            f"{tmp}/bands_all"
        )
        dedup.shingle_sets(docs).write.parquet(f"{tmp}/sh_all")
        all_pairs = dedup.minhash_lsh_pairs(docs, max_bucket_size=64)
        dedup.star_components(
            all_pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        ).select(F.col("node").alias("doc_id"), "cluster_id").write.parquet(
            f"{tmp}/labels_all"
        )
        t(
            "cluster_takedown_1pct",
            dedup.cluster_takedown(
                spark.read.parquet(f"{tmp}/labels_all"),
                docs.where(F.col("doc_id") % 100 == 0).select("doc_id"),
                spark.read.parquet(f"{tmp}/bands_all"),
                spark.read.parquet(f"{tmp}/sh_all"),
                # match the capped store being repaired (the labeling
                # above was built from max_bucket_size=64 pairs), so a
                # hub bucket can't blow up repair on this low-entropy
                # corpus (ADVICE r10)
                max_bucket_size=64,
            ),
        )
    # round-8 stored-index maintenance: the centroid store is built
    # OUTSIDE the timer (train-once/offline); the append row assigns a
    # FIXED 500-vector batch against the stored centroids — the
    # flagship claim is batch-sized cost, so this row should stay FLAT
    # while the vector corpus grows 5x. The staleness QA row touches
    # the whole corpus twice (frozen + fresh assignment maps) plus the
    # retrain, so it should track the vector factor — it runs at
    # maintenance cadence, not per append.
    with tempfile.TemporaryDirectory() as tmp:
      if want("ivf_append_fixed_batch", "ivf_staleness"):
        similarity.ivf_centroids(emb).write.parquet(f"{tmp}/cents")
        cents = spark.read.parquet(f"{tmp}/cents")
        batch = synth_embeddings(spark, 500).withColumn(
            "vec_id", F.col("vec_id") + F.lit(10_000_000)
        )
        t("ivf_append_fixed_batch", similarity.ivf_append_assign(batch, cents))
        t("ivf_staleness", similarity.ivf_staleness(emb, cents))
    # round-8 wave 19: cross-doc paragraph dedup — paragraphing is a
    # per-row map, then two paragraph-sized shuffles (groupBy-min on
    # the paragraph string, doc-keyed re-assembly); expect ~linear in
    # docs. The other wave-17/18 rows are compositions of shapes
    # already on this ladder (zonemap = one narrow scan + 32-group
    # agg; fertility = bpe_apply_tokens + a |langs| agg; serving =
    # classifier + BPE-OOV + IVF-append, each measured above).
    t("paragraph_dedup_rewrite", dedup.paragraph_dedup_rewrite(docs))
    # round-8 waves 21-22: the graph-ANN family. The build is the
    # corpus-sized stage: production sizes n_cells with N to hold
    # |cell| ~constant, making total in-cell work ~2 * N * |cell| —
    # LINEAR (the cells-scaled row, expect ~x2 on x2 vectors). The
    # fixed-cell quadratic (N^2/n_cells) is deliberately NOT run at
    # these tiers — measured separately at 10k/20k vectors (SCALE.md
    # wave-21/22 table), where x2 N showed the expected ~x4. The
    # SERVE row answers from a PREBUILT (stored) edge table —
    # per-query cost is (hops x beam x degree), so it should be FLAT
    # across corpus growth, the family's defining claim.
    if want("knn_graph_ivf_build_scaled_cells", "topk_graph_serve_stored"):
        n_cells_scaled = max(8, n_vec // 500)  # |cell| ~ 500 held constant
        scaled_cents = similarity.ivf_centroids(emb, k=n_cells_scaled)
        t(
            "knn_graph_ivf_build_scaled_cells",
            similarity.knn_graph_ivf(
                emb,
                assign=similarity.ivf_assign(emb, k=n_cells_scaled),
                centroids=scaled_cents,
            ),
        )
        with tempfile.TemporaryDirectory() as tmp:
          if want("topk_graph_serve_stored"):
            similarity.knn_graph_ivf(
                emb,
                assign=similarity.ivf_assign(emb, k=n_cells_scaled),
                centroids=scaled_cents,
            ).select("query_id", "neighbor_id").write.parquet(f"{tmp}/edges")
            stored_edges = spark.read.parquet(f"{tmp}/edges").select(
                "query_id", "neighbor_id"
            )
            t(
                "topk_graph_serve_stored",
                similarity.topk_graph(
                    emb, emb.where("vec_id < 10"), edges=stored_edges
                ),
            )
    # round-11 takedown rows: each purge is a LINEAR scan of its store
    # with the request-sized takedown set broadcast, so every row here
    # should track the data factor (the scan a compaction pays anyway)
    # — with card_refold additionally bounded by the touched batch.
    with tempfile.TemporaryDirectory() as tmp:
      if want("graph_takedown_1pct"):
        # store built OUTSIDE the timer (it exists for serving anyway):
        # the IVF-built kNN graph at |cell| ~ 500, same as the serve row
        n_cells_scaled = max(8, n_vec // 500)
        similarity.knn_graph_ivf(
            emb,
            assign=similarity.ivf_assign(emb, k=n_cells_scaled),
            centroids=similarity.ivf_centroids(emb, k=n_cells_scaled),
        ).select("query_id", "neighbor_id").write.parquet(f"{tmp}/edges")
        t(
            "graph_takedown_1pct",
            similarity.graph_takedown(
                spark.read.parquet(f"{tmp}/edges"),
                emb.where(F.col("vec_id") % 100 == 0).select("vec_id"),
            ),
        )
    with tempfile.TemporaryDirectory() as tmp:
      if want("postings_takedown_1pct"):
        from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
            bm25_postings,
            postings_takedown,
        )

        tf, dl, _meta = bm25_postings(docs)
        tf.write.parquet(f"{tmp}/tf")
        dl.write.parquet(f"{tmp}/dl")

        def _postings_purge():
            # admitted=docs so the benched plan is the EXACT registered
            # form (the n_docs membership semi-join against the real
            # ingested universe rides the dl scan; without it the
            # benched op is the inexact zero-token-doc-skipping
            # variant — ADVICE r11 item 3)
            tf2, dl2, mdelta = postings_takedown(
                spark.read.parquet(f"{tmp}/tf"),
                spark.read.parquet(f"{tmp}/dl"),
                docs.where(F.col("doc_id") % 100 == 0).select("doc_id"),
                admitted=docs.select("doc_id"),
            )
            return tf2.unionByName(
                dl2.select("doc_id", F.lit(None).cast("string").alias("term"), F.col("dl").alias("tf"))
            ).unionByName(
                mdelta.select(F.lit(-1).alias("doc_id"), F.lit(None).cast("string").alias("term"), F.col("n_docs").alias("tf"))
            )

        t("postings_takedown_1pct", _postings_purge)
    with tempfile.TemporaryDirectory() as tmp:
      if want("card_refold_1pct"):
        from calculate_file_content_size_for_vector_db_spark.streaming.datacard import (
            _hll_regs,
            refold_card_takedown,
        )
        from calculate_file_content_size_for_vector_db_spark.operators.textstats import tokens

        # 10-batch partial store built OUTSIDE the timer via the same
        # grouped computation refold uses (4 writes, not 40 appends)
        tagged = docs.withColumn("batch_id", (F.col("doc_id") % 10).cast("long")).select(
            "batch_id", "doc_id", "text",
            (F.col("doc_id") % 3).cast("string").alias("lang"),
            (F.col("doc_id") % 5).cast("string").alias("source"),
        )
        tl = F.size(tokens("text")).cast("long")
        tagged.groupBy("batch_id").agg(
            F.count("*").cast("long").alias("_n"),
            F.sum(tl).alias("_tok"),
            F.sum(F.length("text")).alias("_ch"),
            F.sum(F.when(tl == 0, 1).otherwise(0)).alias("_emp"),
        ).write.parquet(f"{tmp}/card/scalars")
        tagged.groupBy("batch_id", "lang").agg(F.count("*").alias("_c")).write.parquet(
            f"{tmp}/card/langs"
        )
        tagged.groupBy("batch_id", "source").agg(F.count("*").alias("_c")).write.parquet(
            f"{tmp}/card/sources"
        )
        _hll_regs(tagged, "text", group_cols=["batch_id"]).write.parquet(
            f"{tmp}/card/hll"
        )

        def _refold():
            # takedown = doc_id % 100 == 0 (1% of docs), every one in
            # batch 0 (doc_id % 10 == 0 follows), so exactly ONE of the
            # ten batches is recomputed — the localization claim
            refold_card_takedown(
                tagged,
                docs.where(F.col("doc_id") % 100 == 0).select("doc_id"),
                f"{tmp}/card",
            )
            return spark.read.parquet(f"{tmp}/card/scalars")

        t("card_refold_1pct", _refold)
    # round-12 upsert rows: takedown + append composed — each leg is
    # batch-/request-sized against one linear store scan, so both rows
    # should track the data factor like the takedown rows they compose.
    with tempfile.TemporaryDirectory() as tmp:
      if want("ivf_upsert_1pct"):
        similarity.ivf_centroids(emb).write.parquet(f"{tmp}/cents")
        similarity.ivf_assign(emb).write.parquet(f"{tmp}/assign")
        changed = emb.where(F.col("vec_id") % 100 == 0).select(
            "vec_id", F.reverse("embedding").alias("embedding")
        )
        t(
            "ivf_upsert_1pct",
            lambda: similarity.ivf_upsert(
                spark.read.parquet(f"{tmp}/assign"),
                changed,
                spark.read.parquet(f"{tmp}/cents"),
            ),
        )
    with tempfile.TemporaryDirectory() as tmp:
      if want("postings_upsert_1pct"):
        from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
            bm25_postings,
            postings_upsert,
        )

        tf, dl, _meta = bm25_postings(docs)
        tf.write.parquet(f"{tmp}/tf")
        dl.write.parquet(f"{tmp}/dl")
        changed_docs = docs.where(F.col("doc_id") % 100 == 0).select(
            "doc_id", F.reverse("text").alias("text")
        )

        def _postings_up():
            tf2, dl2, mdelta = postings_upsert(
                spark.read.parquet(f"{tmp}/tf"),
                spark.read.parquet(f"{tmp}/dl"),
                changed_docs,
                admitted=docs.select("doc_id"),
            )
            return tf2.unionByName(
                dl2.select("doc_id", F.lit(None).cast("string").alias("term"), F.col("dl").alias("tf"))
            ).unionByName(
                mdelta.select(F.lit(-1).alias("doc_id"), F.lit(None).cast("string").alias("term"), F.col("n_docs").alias("tf"))
            )

        t("postings_upsert_1pct", _postings_up)
    # multi-vector (MaxSim) lifecycle rows: token bags are the 4x16-dim
    # slices of each vector (the registered rows' derivation), so the
    # token store is 4x the vector count. Index build and upsert are
    # frozen-centroid assignment passes (expect ~linear in token rows,
    # the ivf_assign shape); the stored serve probes 2 cells per query
    # token over a FIXED 10-query bag, so its cost tracks the
    # candidate slice (~probes/cells of the token store per query
    # token), expected ~linear-in-corpus at fixed cell count.
    with tempfile.TemporaryDirectory() as tmp:
      if want("maxsim_index_build", "maxsim_upsert_1pct", "maxsim_serve_stored"):
        toks = emb.select(
            "vec_id",
            F.posexplode(
                F.array(
                    *[
                        F.slice(F.col("embedding").cast("array<double>"), 16 * t + 1, 16)
                        for t in range(4)
                    ]
                )
            ).alias("tok", "tv"),
        ).select(F.col("vec_id").alias("doc_id"), "tok", "tv")
        dt = toks.select(
            (F.col("doc_id") * 4 + F.col("tok")).alias("_tid"), F.col("tv").alias("v")
        )
        similarity.ivf_centroids(dt, k=32, id_col="_tid", vec_col="v").write.parquet(
            f"{tmp}/mcents"
        )
        mcents = spark.read.parquet(f"{tmp}/mcents")
        t("maxsim_index_build", similarity.maxsim_token_index(toks, mcents))
        if want("maxsim_upsert_1pct", "maxsim_serve_stored"):
            similarity.maxsim_token_index(toks, mcents).write.parquet(f"{tmp}/mindex")
            changed_bags = toks.where(F.col("doc_id") % 100 == 0).select(
                "doc_id", "tok", F.reverse("tv").alias("tv")
            )
            t(
                "maxsim_upsert_1pct",
                lambda: similarity.maxsim_upsert(
                    spark.read.parquet(f"{tmp}/mindex"), changed_bags, mcents
                ),
            )
            qt = toks.where("doc_id < 10").withColumnRenamed("doc_id", "query_id")
            t(
                "maxsim_serve_stored",
                lambda: similarity.topk_maxsim_from_index(
                    spark.read.parquet(f"{tmp}/mindex"), qt, mcents, k=5, probes=2
                ),
            )
    # graph upsert: FIXED 200-node re-embedded batch (takedown
    # re-deliveries are request-sized, not %-sized), IVF-built store
    # from setup exactly like graph_takedown_1pct. The verb's
    # corpus-dependent stages are the store scan (purge/kept
    # anti-joins), the touched-nodes exact recompute (|touched| ~
    # k x 200, blocked vs survivors), and the batch x corpus score
    # frame (200 broadcast rows per corpus row) — all linear in N at
    # fixed batch, so expect ~the vector factor.
    with tempfile.TemporaryDirectory() as tmp:
      if want("graph_upsert_fixed_batch", "graph_upsert_ivf_fixed_batch"):
        n_cells_scaled = max(8, n_vec // 500)
        cents_g = similarity.ivf_centroids(emb, k=n_cells_scaled)
        assign_g = similarity.ivf_assign(emb, k=n_cells_scaled)
        cents_g.write.parquet(f"{tmp}/gcents")
        assign_g.write.parquet(f"{tmp}/gassign")
        similarity.knn_graph_ivf(
            emb,
            assign=spark.read.parquet(f"{tmp}/gassign"),
            centroids=spark.read.parquet(f"{tmp}/gcents"),
        ).write.parquet(f"{tmp}/edges")
        changed_nodes = emb.where(F.col("vec_id") < 200).select(
            "vec_id", F.reverse("embedding").alias("embedding")
        )
        if want("graph_upsert_fixed_batch"):
            t(
                "graph_upsert_fixed_batch",
                lambda: similarity.graph_upsert(
                    spark.read.parquet(f"{tmp}/edges").select(
                        "query_id", "neighbor_id"
                    ),
                    changed_nodes,
                    emb,
                    k_graph=8,
                ),
            )
        if want("graph_upsert_ivf_fixed_batch"):
            # the REGISTERED shape (sim_graph_upsert_serve): localized
            # recompute through the cell equi-join — expected flat-ish
            # on the vector factor, vs the exact verb's xN frame
            t(
                "graph_upsert_ivf_fixed_batch",
                lambda: similarity.graph_upsert_ivf(
                    spark.read.parquet(f"{tmp}/edges"),
                    changed_nodes,
                    emb,
                    spark.read.parquet(f"{tmp}/gassign"),
                    spark.read.parquet(f"{tmp}/gcents"),
                    k_graph=8,
                ),
            )
    return timings


LADDER_TIERS = [(200_000, 50_000), (1_000_000, 100_000)]

# TPC-H family tiers: replication factor over the sf0.1 fixtures
# (facts replicated with shifted order keys so join semantics hold;
# dimensions stay fixed, exactly like growing the scale factor).
TPCH_TIERS = [1, 8]
_KEY_OFFSET = 100_000_000  # far above any fixture orderkey


def _replicate_facts(spark, sf_dir: str, factor: int):
    """(lineitem, orders) scaled ``factor``x by key-shifted copies — a
    narrow 1-row-per-replica broadcast + arithmetic, so the measured
    cost stays the queries', not the generator's."""
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    if factor == 1:
        return li, orders
    rep = spark.range(factor).select(F.col("id").alias("_r"))
    li_k = (
        li.crossJoin(F.broadcast(rep))
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("_r") * _KEY_OFFSET)
        .drop("_r")
    )
    orders_k = (
        orders.crossJoin(F.broadcast(rep))
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("_r") * _KEY_OFFSET)
        .drop("_r")
    )
    return li_k, orders_k


def run_tpch_tier(spark, sf_dir: str, factor: int) -> dict[str, float]:
    from calculate_file_content_size_for_vector_db_spark.operators.relational import (
        local_supplier_volume,
        pricing_summary,
        shipping_priority,
    )
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table

    li, orders = _replicate_facts(spark, sf_dir, factor)
    dims = {t: read_table(spark, sf_dir, t) for t in ("region", "nation", "customer", "supplier")}
    timings: dict[str, float] = {}

    def t(name, df):
        df.write.mode("overwrite").format("noop").save()  # steady-state warm
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 2)
        print(f"# {name}: {timings[name]}s", file=sys.stderr)

    t("tpch_q1", pricing_summary(li))
    t("tpch_q3", shipping_priority(dims["customer"], orders, li))
    t(
        "tpch_q5",
        local_supplier_volume(
            dims["region"], dims["nation"], dims["customer"], dims["supplier"], orders, li
        ),
    )
    return timings


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--isolated":
        # Parent mode: no SparkSession here — each tier runs in its own
        # fresh JVM so no tier inherits the other's session pressure.
        import subprocess

        ops = [o for o in sys.argv[2].split(",") if o]
        tiers = []
        for n_docs, n_vec in LADDER_TIERS:
            print(
                f"# --- isolated tier {n_docs} docs / {n_vec} vectors: {ops} ---",
                file=sys.stderr,
            )
            proc = subprocess.run(
                [
                    sys.executable,
                    os.path.abspath(__file__),
                    "--isolated-tier",
                    str(n_docs),
                    str(n_vec),
                    ",".join(ops),
                ],
                stdout=subprocess.PIPE,
                check=True,
                text=True,
            )
            tiers.append(json.loads(proc.stdout.strip().splitlines()[-1]))
        ratios = {
            name: round(tiers[1]["timings"][name] / max(tiers[0]["timings"][name], 0.01), 2)
            for name in tiers[0]["timings"]
        }
        (d0, v0), (d1, v1) = LADDER_TIERS
        print(
            json.dumps(
                {"mode": "isolated", "ops": ops, "tiers": tiers, "time_ratios": ratios,
                 "data_factors": {"docs": round(d1 / d0, 2), "vectors": round(v1 / v0, 2)}}
            )
        )
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--isolated-tier":
        n_docs, n_vec = int(sys.argv[2]), int(sys.argv[3])
        only = {o for o in sys.argv[4].split(",") if o}
        spark = get_spark(app_name="scale-check-isolated")
        timings = run_tier(spark, n_docs, n_vec, only=only)
        missing = sorted(only - set(timings))
        if missing:
            raise SystemExit(f"unknown ladder op names: {missing}")
        print(json.dumps({"n_docs": n_docs, "n_vectors": n_vec, "timings": timings}))
        return
    spark = get_spark(app_name="scale-check")
    if len(sys.argv) > 1 and sys.argv[1] == "--tpch-ladder":
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        tiers = []
        for factor in TPCH_TIERS:
            print(f"# --- tpch tier x{factor} over {sf_dir} ---", file=sys.stderr)
            timings = run_tpch_tier(spark, sf_dir, factor)
            tiers.append({"factor": factor, "timings": timings})
        ratios = {
            name: round(tiers[1]["timings"][name] / max(tiers[0]["timings"][name], 0.01), 2)
            for name in tiers[0]["timings"]
        }
        print(
            json.dumps(
                {"sf_dir": sf_dir, "tiers": tiers, "time_ratios": ratios,
                 "data_factor": TPCH_TIERS[1] / TPCH_TIERS[0]}
            )
        )
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--ladder":
        tiers = []
        for n_docs, n_vec in LADDER_TIERS:
            print(f"# --- tier {n_docs} docs / {n_vec} vectors ---", file=sys.stderr)
            timings = run_tier(spark, n_docs, n_vec)
            tiers.append(
                {"n_docs": n_docs, "n_vectors": n_vec, "timings": timings,
                 "total_sec": round(sum(timings.values()), 2)}
            )
        (d0, v0), (d1, v1) = LADDER_TIERS
        ratios = {
            name: round(tiers[1]["timings"][name] / max(tiers[0]["timings"][name], 0.01), 2)
            for name in tiers[0]["timings"]
        }
        print(
            json.dumps(
                {"tiers": tiers, "time_ratios": ratios,
                 "data_factors": {"docs": round(d1 / d0, 2), "vectors": round(v1 / v0, 2)}}
            )
        )
        return
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_vec = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    timings = run_tier(spark, n_docs, n_vec)
    print(
        json.dumps(
            {"n_docs": n_docs, "n_vectors": n_vec, "timings": timings,
             "total_sec": round(sum(timings.values()), 2)}
        )
    )


if __name__ == "__main__":
    main()
