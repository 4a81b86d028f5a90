"""True Structured-Streaming smoke tests: the SAME window aggregations
as the batch oracle queries, driven through readStream + memory sink."""

import pytest

from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
from calculate_file_content_size_for_vector_db_spark.streaming import windows as W
from calculate_file_content_size_for_vector_db_spark.streaming import start_face

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def batch_events(spark):
    return read_table(spark, SF, "events")


@pytest.fixture(scope="module")
def stream_dir(spark, batch_events, tmp_path_factory):
    """FileStreamSource needs a directory of microsecond-timestamp
    parquet; materialize a converted copy of the events fixture."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    batch_events.write.mode("overwrite").parquet(d)
    return d


def test_streaming_tumbling_matches_batch(spark, batch_events, stream_dir):
    stream = spark.readStream.schema(batch_events.schema).parquet(stream_dir)
    agg = W.watermarked_tumbling(stream)
    W.run_stream_to_memory(agg, "tumb", output_mode="complete")
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM tumb").collect()
    }
    expected = {
        (r.window_start, r.event_type): r.n_events
        for r in W.watermarked_tumbling(batch_events).collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_dedup_drops_duplicates(spark, batch_events, stream_dir):
    doubled = batch_events.unionByName(batch_events)
    stream = spark.readStream.schema(batch_events.schema).parquet(stream_dir)
    deduped = W.stream_dedup(stream.unionByName(stream))
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    n = spark.sql("SELECT count(*) AS n FROM dedup_out").collect()[0].n
    n_batch = batch_events.count()
    assert doubled.count() == 2 * n_batch
    assert n == n_batch  # duplicates within the watermark horizon dropped


def test_streaming_session_window_runs(spark, batch_events, stream_dir):
    stream = spark.readStream.schema(batch_events.schema).parquet(stream_dir)
    agg = W.session_agg(W.with_event_time(stream).withWatermark("ts", "1 hour"))
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.session_start, r.user_id): r.n_events
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    expected = {
        (r.session_start, r.user_id): r.n_events
        for r in W.session_agg(batch_events).collect()
    }
    # append mode only emits sessions the final watermark has closed —
    # sessions in the last (watermark + gap) horizon stay open, so the
    # stream emits a (large) subset of the batch result
    assert set(got).issubset(set(expected))
    assert all(expected[k] == v for k, v in got.items())
    assert len(got) >= 0.9 * len(expected)


@pytest.mark.slow
def test_stateful_running_totals(spark, batch_events, stream_dir):
    from calculate_file_content_size_for_vector_db_spark.streaming.stateful import (
        running_user_totals,
    )
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(batch_events.schema).parquet(stream_dir)
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # last emitted row per user == batch totals
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql(
            """SELECT user_id, n_events, total_value FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
                 FROM stateful_out) WHERE rn = 1"""
        ).collect()
    }
    expected = {
        r.user_id: (r.n, r.tv)
        for r in batch_events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("tv"))
        .collect()
    }
    assert set(got) == set(expected)
    for u in expected:
        assert got[u][0] == expected[u][0]
        assert abs(got[u][1] - expected[u][1]) < 1e-6


@pytest.mark.slow
def test_stream_stream_interval_join(spark, batch_events, stream_dir):
    # canonical watermarked stream-stream join: both sides watermarked,
    # time-range condition bounds buffered state
    from pyspark.sql import functions as F

    def sides(df):
        df = W.with_event_time(df)
        clicks = df.where(F.col("event_type") == "click").withWatermark("ts", "2 hours")
        purchases = df.where(F.col("event_type") == "purchase").withWatermark("ts", "2 hours")
        return clicks, purchases

    stream = spark.readStream.schema(batch_events.schema).parquet(stream_dir)
    joined = W.interval_join(*sides(stream), max_gap_seconds=3600)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.user_id, r.a_event, r.b_event)
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }
    bc, bp = (
        batch_events.where(F.col("event_type") == "click"),
        batch_events.where(F.col("event_type") == "purchase"),
    )
    expected = {
        (r.user_id, r.a_event, r.b_event)
        for r in W.interval_join(bc, bp, max_gap_seconds=3600).collect()
    }
    # inner stream-stream join emits matched pairs; with availableNow
    # over a finite source every match is produced
    assert got == expected and len(expected) > 0


def test_foreachbatch_upsert_sink(spark, batch_events, stream_dir, tmp_path):
    # stream a DOUBLED source (same dir read twice) into the upsert
    # sink: the target must converge to exactly one row per event_id
    from calculate_file_content_size_for_vector_db_spark.streaming.sinks import (
        upsert_parquet_batch,
    )

    stream = spark.readStream.schema(batch_events.schema).parquet(stream_dir)
    doubled = stream.unionByName(
        spark.readStream.schema(batch_events.schema).parquet(stream_dir)
    )
    target = str(tmp_path / "upsert_target")
    q = start_face(
        doubled, str(tmp_path / "ckpt"), upsert_parquet_batch, target, key="event_id"
    )
    q.awaitTermination(120)
    out = spark.read.parquet(target)
    assert out.count() == batch_events.count()
    assert out.select("event_id").distinct().count() == batch_events.count()


def test_streaming_rag_ingest(spark, tmp_path):
    # the chunk -> embed -> LSH-bucket ingestion transform is all
    # narrow Column expressions, so it runs unchanged on a stream
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.chunk import chunk_fixed
    from calculate_file_content_size_for_vector_db_spark.operators.embed import rag_ingest_frame

    docs = spark.createDataFrame(
        [(i, f"stream doc {i} " * 12) for i in range(40)], "doc_id long, text string"
    )
    d = str(tmp_path / "docs_stream")
    docs.write.mode("overwrite").parquet(d)

    stream = spark.readStream.schema(docs.schema).parquet(d)
    chunks = chunk_fixed(stream, chunk_size=50).withColumnRenamed("chunk_text", "content")
    out = rag_ingest_frame(chunks.select("doc_id", "chunk_index", "content"))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("rag_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM rag_stream").collect()
    batch = rag_ingest_frame(
        chunk_fixed(docs, chunk_size=50)
        .withColumnRenamed("chunk_text", "content")
        .select("doc_id", "chunk_index", "content")
    ).collect()
    key = lambda r: (r.doc_id, r.chunk_index, r.bucket, tuple(r.embedding_r))
    assert sorted(map(key, got)) == sorted(map(key, batch)) and len(batch) > 0


def test_streaming_incremental_dedup_foreachbatch(spark, tmp_path):
    """The daily-ingest dedup deployed as a stream: new docs arrive in
    micro-batches, each batch runs incremental_neardup_pairs against
    the STORED corpus band/shingle tables (stream side pays the
    signature cost, corpus side is two parquet reads), and admitted
    survivors append to the corpus store via foreachBatch. Output must
    equal the one-shot batch result over the same new docs."""
    from calculate_file_content_size_for_vector_db_spark.operators import dedup

    corpus = spark.createDataFrame(
        [(100 + i, f"corpus doc alpha beta gamma delta {i} epsilon zeta") for i in range(20)],
        "doc_id long, text string",
    )
    bands_dir = str(tmp_path / "bands")
    sh_dir = str(tmp_path / "sh")
    dedup.minhash_bands(dedup.minhash_signature(corpus)).write.parquet(bands_dir)
    dedup.shingle_sets(corpus).write.parquet(sh_dir)

    # batch 0/2 are fresh; batch 1 duplicates corpus doc 105's text
    new_docs = spark.createDataFrame(
        [
            (0, "totally new content one two three four five"),
            (1, "corpus doc alpha beta gamma delta 5 epsilon zeta"),
            (2, "another fresh document with its own words entirely"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "new_stream")
    new_docs.write.mode("overwrite").parquet(d)

    admitted_dir = str(tmp_path / "admitted")

    def _ingest(batch_df, _batch_id):
        s = batch_df.sparkSession
        pairs = dedup.incremental_neardup_pairs(
            batch_df,
            s.read.parquet(bands_dir),
            s.read.parquet(sh_dir),
        )
        dedup.incremental_survivors(batch_df, pairs).write.mode("append").parquet(
            admitted_dir
        )

    stream = spark.readStream.schema(new_docs.schema).parquet(d)
    q = start_face(stream, str(tmp_path / "ckpt"), _ingest)
    q.awaitTermination(120)

    got = {r.doc_id for r in spark.read.parquet(admitted_dir).collect()}
    batch_pairs = dedup.incremental_neardup_pairs(
        new_docs,
        spark.read.parquet(bands_dir),
        spark.read.parquet(sh_dir),
    )
    want = {
        r.doc_id for r in dedup.incremental_survivors(new_docs, batch_pairs).collect()
    }
    assert got == want == {0, 2}  # the near-dup of corpus doc 105 is rejected


@pytest.mark.slow
def test_streaming_cms_sketch_merges_to_batch_sketch(spark, tmp_path):
    """CMS is linear: the union's sketch is the cell-wise SUM of
    per-batch sketches. Deployed as a stream, each micro-batch writes
    its partial grid via foreachBatch and one (row, col) sum merges
    them — the merged grid must equal the one-shot batch build over
    the same docs, cell for cell."""
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import cms_sketch

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} alpha beta common word soup {i % 5}") for i in range(60)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src")
    # three files -> up to three micro-batches
    docs.where("doc_id < 20").write.parquet(src + "/p0")
    docs.where("doc_id >= 20 AND doc_id < 40").write.parquet(src + "/p1")
    docs.where("doc_id >= 40").write.parquet(src + "/p2")
    parts_dir = str(tmp_path / "parts")

    def _sketch_batch(batch_df, _batch_id):
        cms_sketch(batch_df).write.mode("append").parquet(parts_dir)

    stream = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src + "/p*")
    q = start_face(stream, str(tmp_path / "ckpt"), _sketch_batch)
    q.awaitTermination(120)

    from pyspark.sql import functions as F

    merged = (
        spark.read.parquet(parts_dir)
        .groupBy("row", "col")
        .agg(F.sum("cell_count").cast("long").alias("cell_count"))
    )
    batch = cms_sketch(docs)
    got = sorted(map(tuple, merged.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want


@pytest.mark.slow
def test_streaming_neardup_gate_equals_sequential_greedy(spark, tmp_path):
    """The streaming-native near-dup gate (streaming/neardup.py): one
    doc per trigger, every admitted doc's band/shingle artifacts land
    in the corpus store BEFORE the next trigger, so the stream result
    must equal sequential greedy admission in arrival order — first
    occurrence survives, near-dups of ADMITTED docs are rejected,
    near-dups of REJECTED docs still enter. Rolling word windows give
    exact Jaccard control: doc shifts (0, -, 2, 10) make d2 a near-dup
    of d0 (J=0.867) and d3 distinct from d0 (J=0.474) yet similar to
    the rejected d2 (J=0.556)."""
    from calculate_file_content_size_for_vector_db_spark.operators import dedup
    from calculate_file_content_size_for_vector_db_spark.streaming.neardup import (
        admit_batch,
        gate_trigger,
    )

    words = [f"w{i:03d}" for i in range(60)]
    corpus = spark.createDataFrame(
        [(100, "corpus doc alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    bands_dir, sh_dir = str(tmp_path / "bands"), str(tmp_path / "sh")
    dedup.minhash_bands(dedup.minhash_signature(corpus)).write.parquet(bands_dir)
    dedup.shingle_sets(corpus).write.parquet(sh_dir)

    new_rows = [
        (0, " ".join(words[0:30])),  # fresh -> admitted
        (1, "corpus doc alpha beta gamma delta epsilon zeta eta theta"),  # corpus dup -> rejected
        (2, " ".join(words[2:32])),  # near-dup of admitted d0 -> rejected
        (3, " ".join(words[10:40])),  # near-dup of REJECTED d2 only -> admitted
    ]
    schema = "doc_id long, text string"
    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()
    # one file per doc + maxFilesPerTrigger=1 = one doc per micro-batch
    for i, row in enumerate(new_rows):
        spark.createDataFrame([row], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stream_dir / f"f{i}"))

    admitted_dir = str(tmp_path / "admitted")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "*"))
    )
    q = start_face(
        stream, str(tmp_path / "ckpt"), gate_trigger, bands_dir, sh_dir, admitted_dir
    )
    q.awaitTermination(180)
    got = sorted(r.doc_id for r in spark.read.parquet(admitted_dir).collect())

    # hand-run sequential greedy over the same docs with admit_batch
    ref_bands, ref_sh = str(tmp_path / "rbands"), str(tmp_path / "rsh")
    dedup.minhash_bands(dedup.minhash_signature(corpus)).write.parquet(ref_bands)
    dedup.shingle_sets(corpus).write.parquet(ref_sh)
    want = []
    for row in new_rows:
        one = spark.createDataFrame([row], schema)
        adm = admit_batch(
            one, spark.read.parquet(ref_bands), spark.read.parquet(ref_sh)
        ).persist()
        if adm.count():
            want.append(row[0])
            dedup.minhash_bands(dedup.minhash_signature(adm)).write.mode(
                "append"
            ).parquet(ref_bands)
            dedup.shingle_sets(adm).write.mode("append").parquet(ref_sh)
        adm.unpersist()
    assert got == sorted(want) == [0, 3]


@pytest.mark.slow
def test_streaming_neardup_gate_cold_start_bootstraps_store(spark, tmp_path):
    """ADVICE r07: a brand-new pipeline has NO pre-seeded corpus store —
    bands_dir/shingles_dir don't exist until the first trigger appends.
    The gate must treat the missing store as an empty corpus (which
    admits everything) instead of failing the first micro-batch with a
    path-does-not-exist AnalysisException, and later triggers must
    still reject near-dups of cold-start admissions."""
    from calculate_file_content_size_for_vector_db_spark.streaming.neardup import (
        gate_trigger,
    )

    words = [f"w{i:03d}" for i in range(40)]
    new_rows = [
        (0, " ".join(words[0:30])),  # first-ever doc -> admitted (store absent)
        (1, " ".join(words[2:32])),  # near-dup of d0 (J=0.867) -> rejected
        (2, " ".join(words[10:40])),  # J=0.474 vs d0 -> admitted
    ]
    schema = "doc_id long, text string"
    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()
    for i, row in enumerate(new_rows):
        spark.createDataFrame([row], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stream_dir / f"f{i}"))

    bands_dir = str(tmp_path / "bands")  # never created before the stream
    sh_dir = str(tmp_path / "sh")
    admitted_dir = str(tmp_path / "admitted")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "*"))
    )
    q = start_face(
        stream, str(tmp_path / "ckpt"), gate_trigger, bands_dir, sh_dir, admitted_dir
    )
    q.awaitTermination(180)
    got = sorted(r.doc_id for r in spark.read.parquet(admitted_dir).collect())
    assert got == [0, 2]
    # the first trigger created the store; it now holds both admissions
    assert sorted(
        r.doc_id for r in spark.read.parquet(sh_dir).select("doc_id").distinct().collect()
    ) == [0, 2]


@pytest.mark.slow
def test_streaming_lake_maintenance_face_diffs_and_compaction_bins(spark, tmp_path):
    """The ops counterpart of the near-dup gate (streaming/
    maintenance.py): per trigger, the batch is diffed against the
    stored snapshot (corpus_snapshot_diff restricted to batch keys),
    appended to the partitioned lake, and the compaction bins of the
    dirtied partitions are re-planned from the file LISTING. Pinned
    equal to the batch computation: the per-trigger diffs match
    hand-derived snapshot deltas, and the final trigger's plan equals
    maintenance.compaction_plan run in batch over the same listing.
    Cold start: no pre-seeded lake (trigger 0 creates it)."""
    from calculate_file_content_size_for_vector_db_spark.operators.maintenance import (
        compaction_plan,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.maintenance import (
        lake_file_listing,
        lake_maintenance_batch,
    )

    new_rows = [
        [(1, "alpha", "s1"), (2, "beta", "s1")],   # b0: both added
        [(1, "alpha v2", "s1"), (3, "gamma", "s2")],  # b1: 1 changed, 3 added
        [(2, "beta", "s1")],                       # b2: identical re-delivery -> no diff
    ]
    schema = "doc_id long, text string, source string"
    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()
    for i, rows in enumerate(new_rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stream_dir / f"f{i}"))

    lake_dir = str(tmp_path / "lake")
    diff_dir = str(tmp_path / "diff")
    plan_dir = str(tmp_path / "plan")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "*"))
    )
    q = start_face(
        stream, str(tmp_path / "ckpt"), lake_maintenance_batch, lake_dir, diff_dir, plan_dir,
        target_bytes=2048,
    )
    q.awaitTermination(180)

    diffs = {
        (r.batch_id, r.doc_id): r.status
        for r in spark.read.parquet(diff_dir).collect()
    }
    assert diffs == {
        (0, 1): "added",
        (0, 2): "added",
        (1, 1): "changed",
        (1, 3): "added",
        # b2's identical re-delivery emits nothing
    }

    # the lake's latest-version snapshot is the upserted corpus
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    lake = spark.read.parquet(lake_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("_v"))
    snap = {
        r.doc_id: r.text
        for r in lake.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .collect()
    }
    assert snap == {1: "alpha v2", 2: "beta", 3: "gamma"}

    # final trigger dirtied only s1; its plan rows must equal the batch
    # compaction_plan over the same (post-append) listing
    got_plan = sorted(
        (r.source, r.path, r.size_bytes, r.compact_bin)
        for r in spark.read.parquet(plan_dir).where("batch_id = 2").collect()
    )
    want_plan = sorted(
        (r.source, r.path, r.size_bytes, r.compact_bin)
        for r in compaction_plan(
            lake_file_listing(spark, lake_dir).where("source = 's1'"),
            target_bytes=2048,
        ).collect()
    )
    assert got_plan == want_plan and len(got_plan) >= 3


@pytest.mark.slow
def test_streaming_index_maintenance_face_matches_batch_artifacts(spark, tmp_path):
    """The serving-artifact face (streaming/index_maintenance.py),
    completing the face triad: near-dup gate = quality, lake face =
    storage, this = the stored ingest artifacts. Pinned equal to the
    batch computation: after three triggers, (a) the assignment store
    equals ivf_append_assign of ALL vectors against the trigger-0
    frozen centroids, (b) the folded bloom store equals a from-scratch
    bloom_bitmap over ALL band hashes (fold(deltas) == rebuild), and
    (c) re-appending a delta (checkpoint-replay shape) changes the
    folded bitmap NOWHERE (bit_or idempotence through the store)."""
    import math

    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        bloom_bitmap,
        minhash_bands,
        minhash_signature,
    )
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        ivf_append_assign,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.index_maintenance import (
        maintain_index_batch,
        read_bloom_bitmap,
    )

    def vec(i):
        return [float(math.sin(0.1 * i * (d + 1)) % 1.0) for d in range(64)]

    batches = [
        [(i + 10 * b, f"doc {i} of batch {b} word{i % 3} tail", vec(i + 10 * b)) for i in range(10)]
        for b in range(3)
    ]
    schema = "doc_id long, text string, embedding array<float>"
    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()
    for b, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stream_dir / f"f{b}"))

    index_dir = str(tmp_path / "index")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "*"))
    )
    q = start_face(stream, str(tmp_path / "ckpt"), maintain_index_batch, index_dir)
    q.awaitTermination(180)

    # (a) assignment store == batch assignment against the frozen store
    all_rows = [r for rows in batches for r in rows]
    all_vec = spark.createDataFrame(all_rows, schema).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    cents = spark.read.parquet(f"{index_dir}/centroids")
    want_assign = {
        (r.vec_id, r.cell, r.cell_cosine)
        for r in ivf_append_assign(all_vec, cents).collect()
    }
    got_assign = {
        (r.vec_id, r.cell, r.cell_cosine)
        for r in spark.read.parquet(f"{index_dir}/assign").collect()
    }
    assert got_assign == want_assign and len(got_assign) == 30

    # (b) folded bloom store == from-scratch rebuild over all bands
    all_docs = spark.createDataFrame(all_rows, schema).select("doc_id", "text")
    want_bloom = {
        (r.word_id, r.word)
        for r in bloom_bitmap(minhash_bands(minhash_signature(all_docs))).collect()
    }
    got_bloom = {(r.word_id, r.word) for r in read_bloom_bitmap(spark, index_dir).collect()}
    assert got_bloom == want_bloom

    # (c) replay shape: re-appending one trigger's delta is a no-op
    b1_docs = spark.createDataFrame(batches[1], schema).select("doc_id", "text")
    bloom_bitmap(minhash_bands(minhash_signature(b1_docs))).write.mode(
        "append"
    ).parquet(f"{index_dir}/bloom")
    replayed = {(r.word_id, r.word) for r in read_bloom_bitmap(spark, index_dir).collect()}
    assert replayed == want_bloom

    # one metrics row per trigger, each batch-sized
    metrics = {r.batch_id: r for r in spark.read.parquet(f"{index_dir}/metrics").collect()}
    assert set(metrics) == {0, 1, 2}
    assert all(m.n_vectors == 10 and m.n_bloom_delta_words > 0 for m in metrics.values())
    assert all(-1.0 <= m.mean_cc_batch <= 1.0 for m in metrics.values())


@pytest.mark.slow
def test_streaming_datacard_face_matches_batch_card(spark, tmp_path):
    """The observability face (streaming/datacard.py): after three
    triggers, the folded card store must equal corpus_datacard_merge
    over every admitted document — same metrics, same estimator
    arithmetic — and a replayed (re-appended, byte-identical) partial
    must change the folded card NOWHERE (distinct-by-identity makes
    the sum-fold replay-safe)."""
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        corpus_datacard_merge,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.datacard import (
        _hll_regs,
        append_card_partials,
        read_datacard,
    )

    schema = "doc_id long, text string, lang string, source string"
    batches = [
        [
            (
                i + 10 * b,
                (None if (i + 10 * b) == 13 else f"doc {i} of batch {b} word{i % 3} tail"),
                ["en", "fr", "de"][(i + b) % 3],
                f"s{(i + 2 * b) % 4}",
            )
            for i in range(10)
        ]
        for b in range(3)
    ]
    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()
    for b, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stream_dir / f"f{b}"))

    card_dir = str(tmp_path / "card")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "*"))
    )
    q = start_face(stream, str(tmp_path / "ckpt"), append_card_partials, card_dir)
    q.awaitTermination(180)

    all_rows = [r for rows in batches for r in rows]
    all_docs = spark.createDataFrame(all_rows, schema)
    want = {r.metric: r.value for r in corpus_datacard_merge(all_docs).collect()}
    got = {r.metric: r.value for r in read_datacard(spark, card_dir).collect()}
    assert got == want
    assert got["n_docs"] == 30.0 and got["n_langs"] == 3.0

    # replay shape: re-append batch 1's partials byte-identically — a no-op
    b1 = spark.createDataFrame(batches[1], schema)
    bid = F.lit(1).cast("long").alias("batch_id")
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import tokens
    t = F.size(tokens("text")).cast("long")
    b1.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum(t).alias("_tok"),
        F.sum(F.length("text")).alias("_ch"),
        F.sum(F.when(t == 0, 1).otherwise(0)).alias("_emp"),
    ).select(bid, "*").write.mode("append").parquet(f"{card_dir}/scalars")
    b1.groupBy("lang").agg(F.count("*").alias("_c")).select(bid, "*").write.mode(
        "append"
    ).parquet(f"{card_dir}/langs")
    replayed = {r.metric: r.value for r in read_datacard(spark, card_dir).collect()}
    assert replayed == want


@pytest.mark.slow
def test_streaming_drift_face_matches_batch_psi(spark, tmp_path):
    """The monitoring face (streaming/drift.py): after three triggers,
    read_drift over the folded marginal store must equal drift_psi
    (base, union of every admitted batch) row-for-row — both sides
    are the same psi_from_marginals composition, so this pins the
    store/fold seam. A replayed (re-appended, byte-identical) partial
    must change the reading NOWHERE, and a skewed ingest (all-'zz'
    langs, 100x lengths) must raise drift_flag."""
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        drift_psi,
        psi_lang_marginal,
        psi_length_hist,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.drift import (
        append_drift_marginals,
        read_drift,
    )

    schema = "doc_id long, text string, lang string, source string"
    base_rows = [
        (1000 + i, f"base doc {i} " + "w " * (i % 7), ["en", "fr", "de"][i % 3], "s0")
        for i in range(30)
    ]
    base = spark.createDataFrame(base_rows, schema)
    batches = [
        [
            (
                i + 10 * b,
                (None if (i + 10 * b) == 13 else f"doc {i} of batch {b} " + "x " * ((i + b) % 5)),
                ["en", "fr", "de"][(i + b) % 3],
                f"s{(i + 2 * b) % 4}",
            )
            for i in range(10)
        ]
        for b in range(3)
    ]
    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()
    for b, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stream_dir / f"f{b}"))

    marg_dir = str(tmp_path / "marginals")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "*"))
    )
    q = start_face(stream, str(tmp_path / "ckpt"), append_drift_marginals, marg_dir)
    q.awaitTermination(180)

    all_docs = spark.createDataFrame([r for rows in batches for r in rows], schema)
    want = drift_psi(base, all_docs).collect()[0].asDict()
    got = read_drift(spark, base, marg_dir).collect()[0].asDict()
    assert got == want
    assert got["n_base"] == 30 and got["n_batch"] == 30

    # replay shape: re-append batch 1's marginals byte-identically — a no-op
    b1 = spark.createDataFrame(batches[1], schema)
    bid = F.lit(1).cast("long").alias("batch_id")
    psi_length_hist(b1).select(bid, "*").write.mode("append").parquet(
        f"{marg_dir}/hist"
    )
    psi_lang_marginal(b1).select(bid, "*").write.mode("append").parquet(
        f"{marg_dir}/langs"
    )
    replayed = read_drift(spark, base, marg_dir).collect()[0].asDict()
    assert replayed == want

    # a skewed trigger moves the needle: unseen lang, 100x lengths
    skew = spark.createDataFrame(
        [(900 + i, "y " * 400, "zz", "s9") for i in range(40)], schema
    )
    bid2 = F.lit(99).cast("long").alias("batch_id")
    psi_length_hist(skew).select(bid2, "*").write.mode("append").parquet(
        f"{marg_dir}/hist"
    )
    psi_lang_marginal(skew).select(bid2, "*").write.mode("append").parquet(
        f"{marg_dir}/langs"
    )
    drifted = read_drift(spark, base, marg_dir).collect()[0].asDict()
    assert drifted["drift_flag"] is True
    assert drifted["psi_lang"] > want["psi_lang"]


def test_drift_face_cold_read_bootstraps_empty_store(spark, tmp_path):
    """read_drift before any trigger (no marginal dirs on disk) must
    not raise: an empty ingest folds to empty marginals, n_batch = 0
    (the operator-facing cold signal), and both PSI terms stay finite
    — NOT an alarm, because the smoothed empty batch is the uniform
    prior (near-prior divergence, not drift)."""
    from calculate_file_content_size_for_vector_db_spark.streaming.drift import read_drift

    schema = "doc_id long, text string, lang string, source string"
    base = spark.createDataFrame(
        [(i, f"base doc {i}", ["en", "fr"][i % 2], "s0") for i in range(10)], schema
    )
    row = read_drift(spark, base, str(tmp_path / "never_written")).collect()[0]
    assert row.n_base == 10 and row.n_batch == 0
    assert row.psi_length is not None and row.psi_lang is not None
    # smoothing makes the empty batch the uniform prior: finite, small
    assert row.psi_lang == 0.0 and 0.0 <= row.psi_length < 0.2


@pytest.mark.slow
def test_streaming_composed_faces_share_one_store(spark, tmp_path):
    """VERDICT r09 item 5: the four per-trigger faces composed over ONE
    shared store (streaming/composed.py) — one foreachBatch admitting
    each batch through the near-dup gate, then maintaining the index,
    datacard and drift stores from the ADMITTED docs only. Pins
    (a) the admitted set (greedy gate semantics, cross- and
    within-trigger rejections), (b) every downstream face's solo parity
    contract THROUGH the composition (assign == batch assignment vs the
    trigger-0 frozen centroids; folded bloom == from-scratch rebuild;
    folded card == corpus_datacard_merge; read_drift == drift_psi —
    each over admitted docs only), and (c) cross-face consistency: all
    stores advance in lockstep, rejected docs appear in NO store."""
    import math

    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        bloom_bitmap,
        minhash_bands,
        minhash_signature,
    )
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        ivf_append_assign,
    )
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        corpus_datacard_merge,
        drift_psi,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.composed import (
        composed_ingest_batch,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.datacard import read_datacard
    from calculate_file_content_size_for_vector_db_spark.streaming.drift import read_drift
    from calculate_file_content_size_for_vector_db_spark.streaming.index_maintenance import (
        read_bloom_bitmap,
    )

    words = [f"w{i:03d}" for i in range(450)]

    def fresh(w):  # disjoint 30-word windows: J ~= 0 across windows
        return " ".join(words[30 * w : 30 * w + 30])

    def neardup(w):  # shifted window: J = 28/32 = 0.875 vs fresh(w)
        return " ".join(words[30 * w + 2 : 30 * w + 32])

    def vec(i):
        return [float(math.sin(0.1 * i * (d + 1)) % 1.0) for d in range(32)]

    def row(i, text):
        return (i, text, ["en", "fr", "de"][i % 3], f"s{i % 4}", vec(i))

    batches = [
        # trigger 0: 8 fresh + 2 within-batch near-dups of ids 0 and 3
        [row(i, fresh(i)) for i in range(8)]
        + [row(8, neardup(0)), row(9, neardup(3))],
        # trigger 1: fresh 10/12/14; 11 rejects vs STORED 5 (cross-
        # trigger); 13 rejects vs smaller-id 10 of the SAME batch
        [
            row(10, fresh(8)),
            row(11, neardup(5)),
            row(12, fresh(9)),
            row(13, neardup(8)),
            row(14, fresh(10)),
        ],
        # trigger 2: 20 rejects vs stored 12 (= fresh window 9);
        # 22 rejects vs smaller-id 21; 21 and 23 admitted
        [
            row(20, neardup(9)),
            row(21, fresh(11)),
            row(22, neardup(11)),
            row(23, fresh(12)),
        ],
    ]
    want_admitted = [0, 1, 2, 3, 4, 5, 6, 7, 10, 12, 14, 21, 23]

    schema = (
        "doc_id long, text string, lang string, source string, embedding array<float>"
    )
    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()
    for b, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stream_dir / f"f{b}"))

    store = str(tmp_path / "store")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "*"))
    )
    q = start_face(stream, str(tmp_path / "ckpt"), composed_ingest_batch, store)
    q.awaitTermination(300)

    # (a) the gate's greedy admitted set, cross- and within-trigger
    got_admitted = sorted(
        r.doc_id for r in spark.read.parquet(f"{store}/admitted").collect()
    )
    assert got_admitted == want_admitted

    all_rows = [r for rows in batches for r in rows]
    adm_df = spark.createDataFrame(
        [r for r in all_rows if r[0] in set(want_admitted)], schema
    )

    # (b1) index face through the composition: assignment store ==
    # batch assignment of ADMITTED vectors vs the trigger-0 frozen
    # centroids; rejected docs never reach the index
    cents = spark.read.parquet(f"{store}/index/centroids")
    want_assign = {
        (r.vec_id, r.cell, r.cell_cosine)
        for r in ivf_append_assign(
            adm_df.select(F.col("doc_id").alias("vec_id"), "embedding"), cents
        ).collect()
    }
    got_assign = {
        (r.vec_id, r.cell, r.cell_cosine)
        for r in spark.read.parquet(f"{store}/index/assign").collect()
    }
    assert got_assign == want_assign and len(got_assign) == len(want_admitted)

    # (b2) folded bloom == from-scratch rebuild over ADMITTED bands
    want_bloom = {
        (r.word_id, r.word)
        for r in bloom_bitmap(
            minhash_bands(minhash_signature(adm_df.select("doc_id", "text")))
        ).collect()
    }
    got_bloom = {
        (r.word_id, r.word)
        for r in read_bloom_bitmap(spark, f"{store}/index").collect()
    }
    assert got_bloom == want_bloom

    # (b3) folded card == corpus_datacard_merge over admitted docs
    want_card = {
        r.metric: r.value
        for r in corpus_datacard_merge(
            adm_df.select("doc_id", "text", "lang", "source")
        ).collect()
    }
    got_card = {
        r.metric: r.value for r in read_datacard(spark, f"{store}/card").collect()
    }
    assert got_card == want_card
    assert got_card["n_docs"] == float(len(want_admitted))

    # (b4) read_drift == drift_psi(base, admitted docs)
    base = spark.createDataFrame(
        [
            (1000 + i, f"base doc {i} " + "w " * (i % 7), ["en", "fr", "de"][i % 3], "s0")
            for i in range(30)
        ],
        "doc_id long, text string, lang string, source string",
    )
    want_drift = drift_psi(
        base, adm_df.select("doc_id", "text", "lang", "source")
    ).collect()[0].asDict()
    got_drift = read_drift(spark, base, f"{store}/drift").collect()[0].asDict()
    assert got_drift == want_drift
    assert got_drift["n_batch"] == len(want_admitted)

    # (c) lockstep: every store agrees on the admitted population, and
    # rejected docs appear in NO store subtree
    shingle_ids = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{store}/shingles").select("doc_id").distinct().collect()
    )
    assert shingle_ids == want_admitted
    metrics = {
        r.batch_id: r for r in spark.read.parquet(f"{store}/index/metrics").collect()
    }
    assert set(metrics) == {0, 1, 2}
    assert sum(m.n_vectors for m in metrics.values()) == len(want_admitted)
    assert [metrics[b].n_vectors for b in (0, 1, 2)] == [8, 3, 2]


@pytest.mark.slow
def test_streaming_takedown_face_purges_all_stores_and_is_idempotent(spark, tmp_path):
    """VERDICT r10 item 9: right-to-be-forgotten as a streaming face
    (streaming/upsert.py) — a purge-request stream whose triggers
    drive the batch takedown operators against the shared store. Pins
    (a) per-doc-row stores (admitted/bands/shingles/index-assign)
    purged exactly == the batch anti-join, (b) the labels store
    repaired by cluster_takedown such that TWO sequential triggers
    equal ONE from-scratch clustering of the survivors, (c) the audit
    ledger is batch_id-tagged, (d) the bloom store is untouched (its
    takedown-safety is semantic: positives verify against the PURGED
    band/shingle stores), and (e) a replayed trigger is a no-op."""
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators import dedup
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        ivf_append_assign,
        ivf_centroids,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.upsert import (
        takedown_store_batch,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "alpha beta gamma delta epsilon"),
        (10, "omega psi chi phi upsilon"),
        (11, "omega psi chi phi upsilon"),
        (20, "red green blue cyan magenta"),
        (21, "red green blue cyan magenta"),
        (22, "red green blue cyan magenta"),
        (30, "lonely words with no duplicate here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + d * 3) % 11) for d in range(8)]) for i, _ in rows],
        "vec_id long, embedding array<double>",
    )

    store = str(tmp_path / "store")
    docs.write.parquet(f"{store}/admitted")
    bands = dedup.minhash_bands(dedup.minhash_signature(docs))
    bands.write.parquet(f"{store}/bands")
    dedup.shingle_sets(docs).write.parquet(f"{store}/shingles")
    dedup.neardup_clusters(docs).write.parquet(f"{store}/labels")
    ivf_centroids(vecs).write.parquet(f"{store}/index/centroids")
    ivf_append_assign(vecs, spark.read.parquet(f"{store}/index/centroids")).write.parquet(
        f"{store}/index/assign"
    )
    dedup.bloom_bitmap(bands).write.parquet(f"{store}/index/bloom")

    def rows_of(path):
        return {
            tuple(tuple(x) if isinstance(x, list) else x for x in r)
            for r in spark.read.parquet(path).collect()
        }

    pre = {
        sub: rows_of(f"{store}/{sub}")
        for sub in ("admitted", "bands", "shingles", "index/assign", "index/bloom")
    }

    # two triggers: forget 1 (a cluster MINIMUM - relabel), then 22
    req_dir = tmp_path / "requests"
    req_dir.mkdir()
    spark.createDataFrame([(1,)], "doc_id long").coalesce(1).write.parquet(
        str(req_dir / "t0")
    )
    spark.createDataFrame([(22,)], "doc_id long").coalesce(1).write.parquet(
        str(req_dir / "t1")
    )
    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(req_dir / "*"))
    )
    q = start_face(stream, str(tmp_path / "ckpt"), takedown_store_batch, store)
    q.awaitTermination(300)

    gone = {1, 22}
    # (a) per-doc-row stores == batch anti-join of the pre-takedown state
    for sub, key_idx in (("admitted", 0), ("bands", 0), ("shingles", 0), ("index/assign", 0)):
        got = rows_of(f"{store}/{sub}")
        assert got == {t for t in pre[sub] if t[key_idx] not in gone}, sub

    # (b) sequential trigger repairs == one from-scratch clustering of survivors
    got_labels = {
        (r.doc_id, r.cluster_id) for r in spark.read.parquet(f"{store}/labels").collect()
    }
    want_labels = {
        (r.doc_id, r.cluster_id)
        for r in dedup.neardup_clusters(docs.where(~F.col("doc_id").isin(1, 22))).collect()
    }
    assert got_labels == want_labels == {(2, 2), (3, 2), (10, 10), (11, 10), (20, 20), (21, 20)}

    # (c) audit ledger: one batch_id-tagged row per request
    audit = {(r.batch_id, r.doc_id) for r in spark.read.parquet(f"{store}/takedowns").collect()}
    assert audit == {(0, 1), (1, 22)}

    # (d) bloom deliberately untouched
    assert rows_of(f"{store}/index/bloom") == pre["index/bloom"]

    # (e) replay of trigger 1 is a no-op on every store (audit rows
    # re-append byte-identically; the reader distinct()-folds)
    snap = {
        sub: rows_of(f"{store}/{sub}")
        for sub in ("admitted", "bands", "shingles", "index/assign", "labels")
    }
    takedown_store_batch(spark.createDataFrame([(22,)], "doc_id long"), 1, store)
    for sub, want in snap.items():
        assert rows_of(f"{store}/{sub}") == want, f"replay mutated {sub}"
    audit2 = {(r.batch_id, r.doc_id) for r in spark.read.parquet(f"{store}/takedowns").distinct().collect()}
    assert audit2 == {(0, 1), (1, 22)}


@pytest.mark.slow
def test_takedown_face_over_composed_ingest_store(spark, tmp_path):
    """Integration of the two lifecycle faces over ONE store: the
    composed ingest face (gate -> index -> card -> drift) builds the
    store with its real layout and schemas, then the takedown face
    purges a doc — pinning that the two faces agree on store layout
    (admitted rows carry the full ingest schema; assign is keyed
    vec_id) and that serve-side stores drop the doc while the
    sum-fold card/drift subtrees are (by documented contract) left
    for refold_card_takedown."""
    import math

    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.streaming.composed import (
        composed_ingest_batch,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.upsert import (
        takedown_store_batch,
    )

    words = [f"w{i:03d}" for i in range(200)]

    def row(i):
        return (
            i,
            " ".join(words[20 * i : 20 * i + 20]),
            ["en", "fr"][i % 2],
            f"s{i % 3}",
            [float(math.sin(0.1 * i * (d + 1)) % 1.0) for d in range(16)],
        )

    schema = (
        "doc_id long, text string, lang string, source string, embedding array<float>"
    )
    store = str(tmp_path / "store")
    composed_ingest_batch(
        spark.createDataFrame([row(i) for i in range(8)], schema), 0, store
    )

    takedown_store_batch(spark.createDataFrame([(3,)], "doc_id long"), 1, store)

    assert sorted(
        r.doc_id for r in spark.read.parquet(f"{store}/admitted").collect()
    ) == [0, 1, 2, 4, 5, 6, 7]
    # the full ingest schema survived the rewrite
    assert set(spark.read.parquet(f"{store}/admitted").columns) == {
        "doc_id", "text", "lang", "source", "embedding",
    }
    assert sorted(
        r.vec_id for r in spark.read.parquet(f"{store}/index/assign").collect()
    ) == [0, 1, 2, 4, 5, 6, 7]
    for sub in ("bands", "shingles"):
        assert 3 not in {
            r.doc_id for r in spark.read.parquet(f"{store}/{sub}").collect()
        }
    # card subtree untouched (refold is the separate, documented op)
    assert spark.read.parquet(f"{store}/card/scalars").collect()[0]._n == 8
    assert {(r.batch_id, r.doc_id) for r in spark.read.parquet(f"{store}/takedowns").collect()} == {(1, 3)}

@pytest.mark.slow
def test_streaming_upsert_face_rewrites_all_stores_and_is_idempotent(spark, tmp_path):
    """The write-path sibling of the takedown face
    (streaming/upsert.py): a re-delivery stream whose triggers drive
    the batch upsert verbs against the shared store. Pins (a)
    per-doc-row stores (admitted/bands/shingles) hold the batch's NEW
    rows and none of the replaced ones, (b) the labels store after two
    sequential triggers equals ONE from-scratch clustering of the
    current corpus, (c) index/assign equals a frozen-centroid
    assignment of the current vectors (upsert subsumes append: trigger
    0 carries a brand-new id), (d) the audit ledger is
    batch_id-tagged, and (e) a replayed trigger is a no-op on every
    store."""
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators import dedup
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        ivf_append_assign,
        ivf_centroids,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.upsert import (
        upsert_store_batch,
    )

    rows = [
        (10, "alpha beta gamma delta epsilon"),
        (11, "alpha beta gamma delta epsilon"),
        (12, "alpha beta gamma delta epsilon"),
        (20, "omega psi chi phi upsilon"),
        (21, "omega psi chi phi upsilon"),
        (30, "lonely words with no duplicate here"),
    ]

    def emb(i):
        return [float((i * 7 + d * 3) % 11) for d in range(8)]

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    vecs = spark.createDataFrame(
        [(i, emb(i)) for i, _ in rows], "vec_id long, embedding array<double>"
    )
    store = str(tmp_path / "store")
    docs.write.parquet(f"{store}/admitted")
    dedup.minhash_bands(dedup.minhash_signature(docs)).write.parquet(f"{store}/bands")
    dedup.shingle_sets(docs).write.parquet(f"{store}/shingles")
    dedup.neardup_clusters(docs).write.parquet(f"{store}/labels")
    ivf_centroids(vecs).write.parquet(f"{store}/index/centroids")
    cents = spark.read.parquet(f"{store}/index/centroids")
    ivf_append_assign(vecs, cents).write.parquet(f"{store}/index/assign")

    # trigger 0: doc 11 rewritten into group 2's text (cluster move,
    # re-embedded) + brand-new doc 99 duplicating group 1; trigger 1:
    # doc 21 rewritten to a singleton
    t0 = [
        (11, "omega psi chi phi upsilon", emb(111)),
        (99, "alpha beta gamma delta epsilon", emb(99)),
    ]
    t1 = [(21, "nothing like anything else at all", emb(121))]
    req_dir = tmp_path / "redeliveries"
    req_dir.mkdir()
    schema = "doc_id long, text string, embedding array<double>"
    spark.createDataFrame(t0, schema).coalesce(1).write.parquet(str(req_dir / "t0"))
    spark.createDataFrame(t1, schema).coalesce(1).write.parquet(str(req_dir / "t1"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(req_dir / "*"))
    )
    q = start_face(stream, str(tmp_path / "ckpt"), upsert_store_batch, store)
    q.awaitTermination(300)

    current_rows = [
        (10, "alpha beta gamma delta epsilon"),
        (11, "omega psi chi phi upsilon"),
        (12, "alpha beta gamma delta epsilon"),
        (20, "omega psi chi phi upsilon"),
        (21, "nothing like anything else at all"),
        (30, "lonely words with no duplicate here"),
        (99, "alpha beta gamma delta epsilon"),
    ]
    current = spark.createDataFrame(current_rows, "doc_id long, text string")

    # (a) per-doc-row stores == the current corpus's own derivations
    got_admitted = {(r.doc_id, r.text) for r in spark.read.parquet(f"{store}/admitted").collect()}
    assert got_admitted == set(current_rows)
    want_bands = {
        tuple(r)
        for r in dedup.minhash_bands(dedup.minhash_signature(current)).collect()
    }
    assert {tuple(r) for r in spark.read.parquet(f"{store}/bands").collect()} == want_bands
    want_sh = {
        (r.doc_id, tuple(sorted(r.sh))) for r in dedup.shingle_sets(current).collect()
    }
    got_sh = {
        (r.doc_id, tuple(sorted(r.sh)))
        for r in spark.read.parquet(f"{store}/shingles").collect()
    }
    assert got_sh == want_sh

    # (b) labels == one from-scratch clustering of the current corpus
    got_labels = {
        (r.doc_id, r.cluster_id)
        for r in spark.read.parquet(f"{store}/labels").collect()
    }
    want_labels = {
        (r.doc_id, r.cluster_id)
        for r in dedup.neardup_clusters(current).collect()
    }
    assert got_labels == want_labels
    assert (21, 21) not in got_labels  # 21 became a singleton: no row

    # (c) index/assign == frozen-centroid assignment of current vectors
    cur_vecs = spark.createDataFrame(
        [(i, emb(i)) for i in (10, 12, 20, 30)]
        + [(11, emb(111)), (99, emb(99)), (21, emb(121))],
        "vec_id long, embedding array<double>",
    )
    want_assign = {
        (r.vec_id, r.cell, r.cell_cosine)
        for r in ivf_append_assign(cur_vecs, cents).collect()
    }
    got_assign = {
        (r.vec_id, r.cell, r.cell_cosine)
        for r in spark.read.parquet(f"{store}/index/assign").collect()
    }
    assert got_assign == want_assign

    # (d) audit ledger batch-tagged
    audit = {(r.batch_id, r.doc_id) for r in spark.read.parquet(f"{store}/upserts").collect()}
    assert audit == {(0, 11), (0, 99), (1, 21)}

    # (e) replay of trigger 1 is a no-op on every store
    def rows_of(path):
        return {
            tuple(tuple(sorted(x)) if isinstance(x, list) else x for x in r)
            for r in spark.read.parquet(path).collect()
        }

    snap = {
        sub: rows_of(f"{store}/{sub}")
        for sub in ("admitted", "bands", "shingles", "labels", "index/assign")
    }
    upsert_store_batch(spark.createDataFrame(t1, schema), 1, store)
    for sub, want in snap.items():
        assert rows_of(f"{store}/{sub}") == want, f"replay mutated {sub}"
    audit2 = {
        (r.batch_id, r.doc_id)
        for r in spark.read.parquet(f"{store}/upserts").distinct().collect()
    }
    assert audit2 == {(0, 11), (0, 99), (1, 21)}

@pytest.mark.slow
def test_upsert_face_over_composed_ingest_store(spark, tmp_path):
    """Integration of the upsert face with the composed ingest face's
    real store layout: ingest 8 docs through the gate, then re-deliver
    doc 3 with new text/lang/embedding. Pins that the rewrite keeps
    the full ingest schema, replaces exactly doc 3's rows everywhere
    (admitted text changes, bands/shingles re-derive, assign re-keys
    against the FROZEN centroid store), and leaves the sum-fold
    card subtree to the documented refold contract."""
    import math

    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        ivf_append_assign,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.composed import (
        composed_ingest_batch,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.upsert import (
        upsert_store_batch,
    )

    words = [f"w{i:03d}" for i in range(200)]

    def row(i):
        return (
            i,
            " ".join(words[20 * i : 20 * i + 20]),
            ["en", "fr"][i % 2],
            f"s{i % 3}",
            [float(math.sin(0.1 * i * (d + 1)) % 1.0) for d in range(16)],
        )

    schema = (
        "doc_id long, text string, lang string, source string, embedding array<float>"
    )
    store = str(tmp_path / "store")
    composed_ingest_batch(
        spark.createDataFrame([row(i) for i in range(8)], schema), 0, store
    )

    new_vec = [float(math.cos(0.2 * (d + 1)) % 1.0) for d in range(16)]
    redelivery = spark.createDataFrame(
        [(3, " ".join(words[180:200]), "de", "s9", new_vec)], schema
    )
    upsert_store_batch(redelivery, 1, store)

    adm = spark.read.parquet(f"{store}/admitted")
    assert set(adm.columns) == {"doc_id", "text", "lang", "source", "embedding"}
    got3 = adm.where("doc_id = 3").collect()
    assert len(got3) == 1 and got3[0].lang == "de" and got3[0].text.startswith("w180")
    assert adm.count() == 8
    # bands/shingles re-derived for doc 3 (new text -> new shingles)
    sh3 = spark.read.parquet(f"{store}/shingles").where("doc_id = 3").collect()
    assert len(sh3) == 1
    # assign: doc 3 re-assigned from its NEW vector against the frozen store
    cents = spark.read.parquet(f"{store}/index/centroids")
    want3 = ivf_append_assign(
        redelivery.select(F.col("doc_id").alias("vec_id"), "embedding"), cents
    ).collect()[0]
    got_assign3 = (
        spark.read.parquet(f"{store}/index/assign").where("vec_id = 3").collect()
    )
    assert len(got_assign3) == 1
    assert (got_assign3[0].cell, got_assign3[0].cell_cosine) == (want3.cell, want3.cell_cosine)
    assert spark.read.parquet(f"{store}/index/assign").count() == 8
    # card subtree untouched (the documented sum-fold refold contract)
    assert spark.read.parquet(f"{store}/card/scalars").collect()[0]._n == 8
    assert {
        (r.batch_id, r.doc_id)
        for r in spark.read.parquet(f"{store}/upserts").collect()
    } == {(1, 3)}


@pytest.mark.slow
def test_upsert_face_duplicate_deliveries_in_one_trigger_deterministic(spark, tmp_path):
    """Two deliveries of the SAME doc inside one trigger collapse to
    one row picked deterministically (max over the non-key columns as
    a struct — batch frames carry no row order), and replaying the
    trigger makes the same pick: the store ends with exactly one row
    for the doc, equal across runs."""
    from calculate_file_content_size_for_vector_db_spark.streaming.upsert import (
        upsert_store_batch,
    )

    docs = spark.createDataFrame(
        [(1, "original text one"), (2, "original text two")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    docs.write.parquet(f"{store}/admitted")

    dup = spark.createDataFrame(
        [(1, "candidate a rewrite"), (1, "candidate b rewrite")],
        "doc_id long, text string",
    ).repartition(2)
    upsert_store_batch(dup, 0, store)
    got1 = spark.read.parquet(f"{store}/admitted").where("doc_id = 1").collect()
    assert len(got1) == 1
    # max-over-struct pick: 'candidate b rewrite' > 'candidate a rewrite'
    assert got1[0].text == "candidate b rewrite"
    assert spark.read.parquet(f"{store}/admitted").count() == 2

    # replay with the rows in reversed order/partitioning: same pick
    dup2 = spark.createDataFrame(
        [(1, "candidate b rewrite"), (1, "candidate a rewrite")],
        "doc_id long, text string",
    ).repartition(3)
    upsert_store_batch(dup2, 0, store)
    got2 = spark.read.parquet(f"{store}/admitted").where("doc_id = 1").collect()
    assert len(got2) == 1 and got2[0].text == "candidate b rewrite"


def test_upsert_face_rejects_content_free_batch_upfront(spark, tmp_path):
    """A batch without the text column fails FAST with a descriptive
    producer-contract error (review r13: the key-only schema used to
    pass the dedup collapse and die two statements later inside
    minhash_signature with an unresolved-column error) — and the
    store is left untouched."""
    import pytest as _pytest

    from calculate_file_content_size_for_vector_db_spark.streaming.upsert import (
        upsert_store_batch,
    )

    docs = spark.createDataFrame(
        [(1, "original text one")], "doc_id long, text string"
    )
    store = str(tmp_path / "store")
    docs.write.parquet(f"{store}/admitted")

    key_only = spark.createDataFrame([(1,), (2,)], "doc_id long")
    with _pytest.raises(ValueError, match="must carry .*'text'"):
        upsert_store_batch(key_only, 0, store)
    got = spark.read.parquet(f"{store}/admitted").collect()
    assert len(got) == 1 and got[0].text == "original text one"
