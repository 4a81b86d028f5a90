"""The benchmark workloads. Each is a closed loop with one client: every
Spark action blocks the single driver thread, and the next operation
starts when the previous one returns.

A workload returns a ``Result``: end-to-end metrics from the timed
(untraced) run, or per-layer metrics from the traced run.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import time
from dataclasses import dataclass, field
from statistics import median

import gen
import checks
from harness import (
    SPAN_FIELDS,
    Monitor,
    Session,
    Tracer,
    nproc,
    parse_event_logs,
    setup_samples,
    span_metrics,
)

MB = 1_000_000.0

END_TO_END = {
    "setup_s": "s",
    "mb_per_s": "MB/s",
    "latency_s_p50": "s",
    "peak_rss_mb": "MB",
    "store_bytes_per_input_byte": "ratio",
    "accounted_ratio": "fraction",
}


@dataclass
class Result:
    metrics: dict[str, float]
    problems: list[str]
    attempted: int
    failed: int
    info: dict = field(default_factory=dict)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _rounded(xs: list[float]) -> list[float]:
    return [round(x, 3) for x in xs]


def _no_span(name: str):
    return contextlib.nullcontext()


def _warm_up(fn, min_iters: int, max_iters: int, budget_s: float, tol: float = 0.10) -> list[float]:
    """Run ``fn`` until two consecutive timings agree within ``tol``
    (and at least ``min_iters`` ran), or the iteration/time budget ends."""
    times: list[float] = []
    t0 = time.perf_counter()
    while len(times) < max_iters:
        times.append(_timed(fn)[0])
        steady = len(times) >= 2 and abs(times[-1] - times[-2]) <= tol * times[-2]
        if len(times) >= min_iters and (steady or time.perf_counter() - t0 > budget_s):
            break
    return times


@dataclass
class Loop:
    """Timings of the successful operations of a closed loop, with the
    attempts and failures behind them."""

    times: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    def run(self, op, what: str, problems: list[str]) -> None:
        self.attempted += 1
        try:
            self.times.append(_timed(op)[0])
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
            self.failed += 1
            problems.append(f"{what} failed: {type(e).__name__}: {e}")

    def run_for(self, op, what: str, problems: list[str], seconds: float, min_ops: int) -> "Loop":
        """Run ``op`` back to back for ``seconds``, and at least ``min_ops``
        times; three failures end the loop early."""
        t_end = time.perf_counter() + seconds
        while (time.perf_counter() < t_end or len(self.times) < min_ops) and self.failed < 3:
            self.run(op, what, problems)
        return self


# ---------------------------------------------------------------------------
# pdf_sizing: the paper's job, the content-sizer CLI over a PDF tree
# ---------------------------------------------------------------------------

PDF_FILES = 80


def _cli_once(root: str, out: str) -> str:
    from calculate_file_content_size_for_vector_db_spark import cli

    shutil.rmtree(out, ignore_errors=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main([root, "--parallelism", str(nproc()), "--output-dir", out])
    if rc != 0:
        raise RuntimeError(f"content-sizer exited with {rc}")
    return buf.getvalue()


def _sizing_layers(spark, tracer: Tracer, root: str, out: str) -> None:
    """The CLI's pipeline, one public layer call per span, each layer's
    output materialized so the next span starts from a finished artifact."""
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.functions.text import preprocess_text
    from calculate_file_content_size_for_vector_db_spark.operators import chunk as chunk_ops
    from calculate_file_content_size_for_vector_db_spark.operators import metrics
    from calculate_file_content_size_for_vector_db_spark.sources.extract import extract_pages
    from calculate_file_content_size_for_vector_db_spark.sources.io import scan_files, write_csv

    shutil.rmtree(out, ignore_errors=True)
    with tracer.span("sources.io.scan"):
        files = scan_files(spark, root).localCheckpoint(eager=True)
    listed = files.agg(F.count("*"), F.sum("length")).first()
    with tracer.span("sources.extract.pages"):
        pages = extract_pages(files).localCheckpoint(eager=True)
    pages_out, with_pages = pages.agg(F.count("*"), F.countDistinct("path")).first()
    with tracer.span("operators.chunk.split"):
        chunked = chunk_ops.chunk_recursive(
            pages, text_col="page_text", keep_cols=["path", "page_number", "n_pages", "file_size"]
        )
        chunked = (
            chunked.withColumn("content", preprocess_text("chunk_text"))
            .withColumn("chunk_length", F.length("content").cast("int"))
            .localCheckpoint(eager=True)
        )
    chunks_out = chunked.count()
    with tracer.span("operators.metrics.rollup"):
        per_file = (
            chunked.groupBy("path")
            .agg(
                F.first("n_pages").alias("pages"),
                F.first("file_size").alias("file_size"),
                F.count("*").alias("chunks"),
                F.sum("chunk_length").cast("long").alias("text_size"),
            )
            .withColumn("ratio", metrics.ratio("file_size", "text_size", 2))
            .withColumn("filename", F.element_at(F.split("path", "/"), -1))
        )
        summary = metrics.rollup_summary(per_file).localCheckpoint(eager=True)
        summary.orderBy(F.desc("file_size")).collect()
    with tracer.span("sources.io.csv"):
        write_csv(summary, os.path.join(out, "report.d"))
    tracer.count("sources.io.files_listed", listed[0])
    tracer.count("sources.io.bytes_read", listed[1])
    tracer.count("sources.extract.pages_out", pages_out)
    tracer.count("sources.extract.files_without_pages", listed[0] - with_pages)
    tracer.count("operators.chunk.chunks_out", chunks_out)


MIN_SIZING_RUNS = 3


def pdf_sizing(work: str, seed: int, seconds: float, trace: bool, scale: float) -> Result:
    tree = gen.make_pdf_tree(seed, os.path.join(work, "pdfs"), max(20, int(PDF_FILES * scale)))
    want = checks.expected_sizes(tree)
    want_total = (
        sum(v[1] for v in want.values()),
        sum(v[0] for v in want.values()),
        sum(v[2] for v in want.values()),
    )
    out = os.path.join(work, "report")
    sess = Session(work)
    tracer = Tracer()
    problems: list[str] = []

    def sizing(span=_no_span) -> None:
        with span("cli.main"):
            stdout = _cli_once(tree.root, out)
        if checks.parse_sum_total_line(stdout) != want_total:
            problems.append(f"SUM TOTAL line {checks.parse_sum_total_line(stdout)} != {want_total}")

    try:
        setups = setup_samples(sess, tracer if trace else None)
        tracer.spark = sess.spark
        traced = (lambda: sizing(tracer.span)) if trace else sizing
        warm = _warm_up(traced, 3, 5, 15.0)
        with Monitor() as mon:
            timed = Loop().run_for(traced, "sizing run", problems, seconds, MIN_SIZING_RUNS)
        if not timed.times:
            raise RuntimeError(f"every sizing run failed: {problems}")
        rows = checks.read_report(out)
        problems += checks.check_pdf_report(tree, rows, want)
        accounted = checks.report_accounting(tree, rows)
        if trace:
            _sizing_layers(sess.spark, tracer, tree.root, out)
            # the same CLI runs with the event log off and no spans: the
            # difference of the two medians is the cost of tracing
            sess.stop()
            sess.start()
            Loop().run(sizing, "sizing warm-up", problems)
            plain = Loop().run_for(sizing, "sizing run", problems, seconds, MIN_SIZING_RUNS)
    finally:
        sess.shutdown()
    sizes = tree.sizes()
    info = {
        "inputs": sizes,
        "samples_s": {"sizing": _rounded(timed.times), "warm_up": _rounded(warm), "setup": _rounded(setups)},
        "external_cpus": mon.external_cpus,
        "peak_rss_parts_mb": mon.peak_parts,
    }
    if trace:
        info["samples_s"]["sizing_untraced"] = _rounded(plain.times)
        layers = _layer_metrics(sess, tracer)
        layers["trace.overhead_s"] = median(timed.times) - median(plain.times)
        return Result(layers, problems, timed.attempted + plain.attempted, timed.failed + plain.failed, info)
    report_bytes = checks.dir_bytes(out)
    metrics = {
        "setup_s": median(setups),
        "mb_per_s": sizes["bytes"] / MB / median(timed.times),
        "latency_s_p50": median(timed.times),
        "peak_rss_mb": mon.peak_mb,
        "store_bytes_per_input_byte": report_bytes / sizes["bytes"],
        "accounted_ratio": accounted / sizes["files"],
    }
    return Result(metrics, problems, timed.attempted, timed.failed, info)


# ---------------------------------------------------------------------------
# ingest_serve: re-delivery upserts beside stored-index top-k reads
# ---------------------------------------------------------------------------

INGEST_DOCS = 800
# An untimed upsert warms the JIT and the Python workers for the upsert
# path; the timed ones give a median. The counts are fixed, so the final
# store does not depend on machine speed.
UPSERT_WARM_UP = 1
UPSERT_TIMED = 3
QUERY_WARM_UP = 1
MIN_QUERY_BATCHES = 5
QUERY_BATCHES = 200


def _write_inputs(inp: gen.IngestInput, root: str) -> tuple[str, list[str]]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)

    def table(ids, texts, vecs):
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        })

    corpus = os.path.join(root, "corpus.parquet")
    pq.write_table(table(list(range(len(inp.texts))), inp.texts, inp.vectors), corpus)
    batches = []
    for b, (ids, texts, vecs) in enumerate(inp.batches):
        batches.append(os.path.join(root, f"batch{b}.parquet"))
        pq.write_table(table(ids, texts, vecs), batches[-1])
    return corpus, batches


def _build_store(spark, tracer: Tracer | None, corpus: str, store: str) -> None:
    """The shared store the upsert face maintains: admitted rows, shingle
    and band artifacts, near-dup labels and the stored IVF index. Traced,
    the labels are built as their two public halves (LSH pairs, then star
    components) so each half gets its own span."""
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators import dedup
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        ivf_append_assign,
        ivf_centroids,
    )

    span = tracer.span if tracer else _no_span
    spark.read.parquet(corpus).write.parquet(f"{store}/admitted")
    adm = spark.read.parquet(f"{store}/admitted")
    with span("operators.dedup.shingle"):
        dedup.shingle_sets(adm).write.parquet(f"{store}/shingles")
    sh = spark.read.parquet(f"{store}/shingles")
    with span("operators.dedup.signature"):
        dedup.bands_from_shingle_sets(sh).write.parquet(f"{store}/bands")
    bands = spark.read.parquet(f"{store}/bands")
    if tracer is None:
        dedup.neardup_clusters(
            adm, method="star", bands_df=bands, shingles_df=sh
        ).write.parquet(f"{store}/labels")
    else:
        with span("operators.dedup.pairs"):
            pairs = dedup.minhash_lsh_pairs(adm, bands_df=bands, shingles_df=sh).localCheckpoint(
                eager=True
            )
        tracer.count("operators.dedup.verified_pairs", pairs.count())
        with span("operators.dedup.components"):
            dedup.star_components(
                pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
            ).select(F.col("node").alias("doc_id"), "cluster_id").write.parquet(f"{store}/labels")
    vecs = adm.select(F.col("doc_id").alias("vec_id"), "embedding")
    ivf_centroids(vecs).write.parquet(f"{store}/index/centroids")
    ivf_append_assign(vecs, spark.read.parquet(f"{store}/index/centroids")).write.parquet(
        f"{store}/index/assign"
    )
    spark.catalog.clearCache()


def _query(spark, store: str, ids: list[int]) -> list[tuple]:
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.similarity import topk_ivf

    emb = spark.read.parquet(f"{store}/admitted").select(F.col("doc_id").alias("vec_id"), "embedding")
    q = spark.createDataFrame([(i,) for i in ids], "vec_id long")
    rows = topk_ivf(
        emb,
        q,
        k=5,
        assign=spark.read.parquet(f"{store}/index/assign"),
        centroids=spark.read.parquet(f"{store}/index/centroids"),
    ).collect()
    return [(r.query_id, r.neighbor_id, r.cosine, r.rank) for r in rows]


def _snapshot(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _parquet_rows(path: str, cols: list[str]) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def _candidate_pairs(bands_path: str) -> int:
    """Σ n(n-1)/2 over the (band, band_hash) buckets of the band table."""
    import duckdb

    con = duckdb.connect()
    n = con.execute(
        f"SELECT coalesce(sum(n * (n - 1) / 2), 0) FROM (SELECT count(*) AS n "
        f"FROM read_parquet('{bands_path}/*.parquet') GROUP BY band, band_hash)"
    ).fetchone()[0]
    con.close()
    return int(n)


def _candidates_scored(store: str, ids: list[int]) -> int:
    """query x in-cell candidate rows: Σ over queries of (cell size - 1)."""
    assign = dict(_parquet_rows(f"{store}/index/assign", ["vec_id", "cell"]))
    sizes: dict[int, int] = {}
    for cell in assign.values():
        sizes[cell] = sizes.get(cell, 0) + 1
    return sum(sizes[assign[i]] - 1 for i in ids)


def _store_walk(store: str, before: dict) -> dict[str, int]:
    after = _snapshot(store)
    new = [p for p, v in after.items() if before.get(p) != v]
    return {
        "bytes_written": sum(after[p][0] for p in new),
        "files_written": len(new),
        "live_files": len(after),
    }


def ingest_serve(work: str, seed: int, seconds: float, trace: bool, scale: float) -> Result:
    from calculate_file_content_size_for_vector_db_spark.streaming.upsert import upsert_store_batch

    n_docs = max(200, int(INGEST_DOCS * scale))
    n_upserts = UPSERT_WARM_UP + UPSERT_TIMED
    inp = gen.make_ingest_input(seed, n_docs, n_upserts, n_query_batches=QUERY_BATCHES)
    corpus, batch_files = _write_inputs(inp, os.path.join(work, "input"))
    store = os.path.join(work, "store")
    sess = Session(work)
    tracer = Tracer()
    span = tracer.span if trace else _no_span
    problems: list[str] = []
    walks: list[dict] = []
    asked: list[list[int]] = []
    served: list = []

    def upsert(cycle: int) -> None:
        batch = sess.spark.read.parquet(batch_files[cycle])
        upsert_store_batch(batch, cycle, store)
        sess.spark.catalog.clearCache()

    def timed_upsert(cycle: int) -> None:
        before = _snapshot(store) if trace else {}
        with span("streaming.upsert.batch"):
            upsert(cycle)
        if trace:
            walks.append(_store_walk(store, before))

    def query_loop(span) -> Loop:
        """Query batches for ``seconds``, from the first batch of ids on."""
        queries = iter(inp.queries[QUERY_WARM_UP:])

        def one() -> None:
            ids = next(queries)
            with span("operators.similarity.topk"):
                rows = _query(sess.spark, store, ids)
            sess.spark.catalog.clearCache()
            served[:] = [ids, rows]
            asked.append(ids)

        for ids in inp.queries[:QUERY_WARM_UP]:
            _query(sess.spark, store, ids)
        return Loop().run_for(one, "query batch", problems, seconds, MIN_QUERY_BATCHES)

    try:
        setups = setup_samples(sess, tracer if trace else None)
        tracer.spark = sess.spark
        build_s, _ = _timed(lambda: _build_store(sess.spark, tracer if trace else None, corpus, store))
        problems += checks.check_planted_clusters(
            inp.clusters, dict(_parquet_rows(f"{store}/labels", ["doc_id", "cluster_id"]))
        )
        if trace:
            cand = _candidate_pairs(f"{store}/bands")
            tracer.count("operators.dedup.candidate_pairs", cand)
            verified = tracer.counts["operators.dedup.verified_pairs"]
            tracer.count("operators.dedup.verify_yield", verified / cand if cand else 0.0)
        warm = Loop()
        for cycle in range(UPSERT_WARM_UP):
            warm.run(lambda: upsert(cycle), "upsert", problems)
        with Monitor() as mon:
            upserts = Loop()
            for cycle in range(UPSERT_WARM_UP, n_upserts):
                upserts.run(lambda: timed_upsert(cycle), "upsert", problems)
            # the query deadline starts after the upserts, so --seconds
            # sets the number of query batches
            queries = query_loop(span)
        if not upserts.times or not queries.times:
            raise RuntimeError(f"every upsert or every query batch failed: {problems}")
        t_checks = time.perf_counter()
        texts, vecs = inp.current(n_upserts)
        problems += checks.check_labels(
            texts, set(_parquet_rows(f"{store}/labels", ["doc_id", "cluster_id"]))
        )
        problems += checks.check_topk(store, *served)
        store_bytes = checks.dir_bytes(store)
        checks_s = time.perf_counter() - t_checks
        if trace:
            # the same query batches with the event log off and no spans:
            # the difference of the two medians is the cost of tracing
            sess.stop()
            sess.start()
            plain = query_loop(_no_span)
    finally:
        sess.shutdown()
    loops = [warm, upserts, queries] + ([plain] if trace else [])
    attempted = sum(lp.attempted for lp in loops)
    failed = sum(lp.failed for lp in loops)
    info = {
        "inputs": inp.sizes(),
        "samples_s": {
            "upsert": _rounded(upserts.times),
            "upsert_warm_up": _rounded(warm.times),
            "query": _rounded(queries.times),
            "setup": _rounded(setups),
            "build": round(build_s, 3),
            "checks": round(checks_s, 3),
        },
        "external_cpus": mon.external_cpus,
        "peak_rss_parts_mb": mon.peak_parts,
    }
    if trace:
        info["samples_s"]["query_untraced"] = _rounded(plain.times)
        layers = _layer_metrics(sess, tracer)
        for k in walks[0]:
            layers[f"streaming.store_swap.{k}"] = median([w[k] for w in walks])
        layers["operators.similarity.candidates_scored"] = median(
            _candidates_scored(store, ids) for ids in asked[: len(queries.times)]
        )
        layers["trace.overhead_s"] = median(queries.times) - median(plain.times)
        return Result(layers, problems, attempted, failed, info)
    batch_bytes = median(
        gen.IngestInput.input_bytes(b[1], b[2]) for b in inp.batches[UPSERT_WARM_UP:]
    )
    metrics = {
        "setup_s": median(setups) + build_s,
        "mb_per_s": batch_bytes / MB / median(upserts.times),
        "latency_s_p50": median(queries.times),
        "peak_rss_mb": mon.peak_mb,
        "store_bytes_per_input_byte": store_bytes / gen.IngestInput.input_bytes(texts, vecs),
        "accounted_ratio": (attempted - failed) / attempted,
    }
    return Result(metrics, problems, attempted, failed, info)


# ---------------------------------------------------------------------------
# per-layer metric table
# ---------------------------------------------------------------------------

SPANS = (
    "session.start",
    "sources.io.scan",
    "sources.extract.pages",
    "operators.chunk.split",
    "operators.metrics.rollup",
    "sources.io.csv",
    "operators.dedup.shingle",
    "operators.dedup.signature",
    "operators.dedup.pairs",
    "operators.dedup.components",
    "streaming.upsert.batch",
    "operators.similarity.topk",
)

COUNTS = {
    "sources.io.files_listed": "count",
    "sources.io.bytes_read": "bytes",
    "sources.extract.pages_out": "count",
    "sources.extract.files_without_pages": "count",
    "operators.chunk.chunks_out": "count",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.dedup.components.jobs": "count",
    "streaming.store_swap.bytes_written": "bytes",
    "streaming.store_swap.files_written": "count",
    "streaming.store_swap.live_files": "count",
    "operators.similarity.candidates_scored": "count",
    "trace.overhead_s": "s",
}


PER_LAYER = {f"{s}.{f}": u for s in SPANS for f, u in SPAN_FIELDS.items()} | COUNTS


def _layer_metrics(sess: Session, tracer: Tracer) -> dict[str, float]:
    """Every per-layer metric; spans and counts a workload does not reach
    read 0."""
    spans = span_metrics(tracer, parse_event_logs(sess.event_log_files()))
    out = {f"{s}.{f}": spans.get(s, {}).get(f, 0) for s in SPANS for f in SPAN_FIELDS}
    out |= {name: tracer.counts.get(name, 0) for name in COUNTS}
    out["operators.dedup.components.jobs"] = spans.get("operators.dedup.components", {}).get("jobs", 0)
    return out
