"""Recall-vs-work frontier exhibit across ALL TEN ANN tiers.

    python tools/ann_frontier.py [sf_dir]     # default /root/testdata/sf0.01

For every tier this emits, in one frame: recall@10 (the tier's own
registered, oracle-verified recall query), the number of candidate
pairs its scan scores, the bytes of vector data each candidate costs,
and the resulting scan volume relative to bruteforce — so picking a
tier for a given corpus size and recall bar is a table lookup.

The exact-scored pruned tiers (lsh / multiprobe / ivf) also appear in
the registered, DuckDB-mirrored `ann_frontier` query, where the
candidates-superset => recall>= property is oracle-checked. The
ADC/compressed tiers (pq, ivfpq, binary, matryoshka, int8) live only
here: compressed scoring voids that monotone guarantee (the pinned
non-monotone probe finding), so their frontier rows are exhibit data,
not an invariant.

Rewrites the generated block of FRONTIER.md (everything before its
first "## " section, which it keeps with the rest of the file) and
prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY, _emb
from calculate_file_content_size_for_vector_db_spark.operators import similarity as sim
from calculate_file_content_size_for_vector_db_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
DIM = sim.DIM
F32 = 4  # embeddings are stored float32

# (tier, recall-query name, bytes of vector data per scanned candidate,
#  reranked rows note). Full-scan tiers score Q*(N-1) candidates; the
# compressed ones just move fewer bytes per candidate; rerank tiers add
# a bounded Q*rerank*k full-vector pass.
RERANK = 4
K = 10


def main() -> None:
    spark = get_spark(app_name="ann-frontier", cpus=16, shuffle_partitions=16)
    emb = _emb(spark, SF_DIR)
    q = emb.where(F.col("vec_id") < 10)
    n = emb.count()
    nq = q.count()
    full_scan = nq * (n - 1)

    # candidate counts for the pruned tiers (same joins their topk runs)
    buckets = sim.lsh_buckets(emb).persist()
    qb = buckets.join(q.select("vec_id"), "vec_id").select(
        F.col("vec_id").alias("qid"), "bucket"
    )
    lsh_cand = (
        qb.join(buckets, "bucket").where(F.col("qid") != F.col("vec_id")).count()
    )
    probes = F.explode(
        F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p).cast("bigint"))
                for p in range(sim.N_PLANES)
            ],
        )
    )
    qmp = buckets.join(q.select("vec_id"), "vec_id").select(
        F.col("vec_id").alias("qid"), probes.alias("bucket")
    )
    mp_cand = (
        qmp.join(buckets, "bucket").where(F.col("qid") != F.col("vec_id")).count()
    )
    assign = sim.ivf_assign(emb).select("vec_id", "cell").persist()
    qa = assign.join(q.select("vec_id"), "vec_id").select(
        F.col("vec_id").alias("qid"), "cell"
    )
    ivf_cand = (
        qa.join(assign, "cell").where(F.col("qid") != F.col("vec_id")).count()
    )
    # IVFxPQ probe2: query probes its top-2 coarse cells
    v = emb.select("vec_id", sim.as_double("embedding").alias("v"))
    cents = sim.ivf_centroids(emb)
    top2 = sim._nearest(v.join(q.select("vec_id"), "vec_id"), cents, "vec_id", c=2)
    p2_cand = (
        top2.select(F.col("vec_id").alias("qid"), "cell")
        .join(assign, "cell")
        .where(F.col("qid") != F.col("vec_id"))
        .count()
    )

    # graph tiers (round 8): scored candidates counted by the search's
    # own instrumentation hook — entry + every hop's candidate frame,
    # re-scorings across hops included. Work is (hops x beam x degree)-
    # bounded per query, the only tier whose cost is independent of
    # corpus AND cell sizes.
    g_edges = sim.topk_grid(emb, emb, k=8).persist()
    graph_cand = sim.topk_graph(
        emb, q, k=K, edges=g_edges, scored_candidates=True
    ).count()
    gi_edges = sim.knn_graph_ivf(emb).persist()
    graph_ivf_cand = sim.topk_graph(
        emb, q, k=K, edges=gi_edges, scored_candidates=True
    ).count()

    # MaxSim (multi-vector, round 12): candidates are (query, doc)
    # TOKEN-PAIR scorings — brute = nq x (n-1) x 16 pairs of 16-dim
    # tokens; the IVF-bucketed path scores only candidate docs' token
    # pairs. The cand frame below mirrors topk_maxsim_ivf's candidate
    # generation exactly (tid-keyed quantizer, top-2 probes/qtok).
    T, TDIM = 4, 16
    tok = emb.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("embedding").cast("array<double>"), TDIM * t + 1, TDIM)
                    for t in range(T)
                ]
            )
        ).alias("tok", "tv"),
    )
    dtt = tok.select(
        (F.col("vec_id") * T + F.col("tok")).alias("_tid"),
        F.col("vec_id").alias("doc_id"),
        F.col("tv").alias("v"),
    ).persist()
    mcents = sim.ivf_centroids(dtt, k=32, id_col="_tid", vec_col="v")
    mdc = dtt.join(
        sim._nearest(dtt.select("_tid", "v"), mcents, "_tid").select("_tid", "cell"),
        "_tid",
    )
    mqc = (
        dtt.where(F.col("doc_id") < 10)
        .join(
            sim._nearest(
                dtt.where(F.col("doc_id") < 10).select("_tid", "v"), mcents, "_tid", c=2
            ).select("_tid", "cell"),
            "_tid",
        )
    )
    maxsim_cand_docs = (
        mqc.select(F.col("doc_id").alias("qid"), "cell")
        .join(mdc.select("doc_id", "cell"), "cell")
        .where(F.col("qid") != F.col("doc_id"))
        .select("qid", "doc_id")
        .distinct()
        .count()
    )
    maxsim_brute_pairs = nq * (n - 1) * T * T
    maxsim_ivf_pairs = maxsim_cand_docs * T * T

    tiers = [
        # tier, recall query, candidate rows, bytes/candidate, rerank rows
        ("bruteforce", None, full_scan, DIM * F32, 0),
        ("lsh", "lsh_recall_at_10", lsh_cand, DIM * F32, 0),
        ("lsh_multiprobe", "lsh_multiprobe_recall_at_10", mp_cand, DIM * F32, 0),
        ("ivf", "ivf_recall_at_10", ivf_cand, DIM * F32, 0),
        ("ivf_probe2", "ivf_probe2_recall_at_10", p2_cand, DIM * F32, 0),
        ("pq_adc", "pq_recall_at_10", full_scan, sim.PQ_SUBS, 0),
        ("ivfpq", "ivfpq_recall_at_10", ivf_cand, sim.PQ_SUBS, 0),
        ("ivfpq_probe2", "ivfpq_probe2_recall_at_10", p2_cand, sim.PQ_SUBS, 0),
        ("binary_rerank", "binary_recall_at_10", full_scan, 8, nq * RERANK * K),
        ("matryoshka_rerank", "matryoshka_recall_at_10", full_scan, 16 * F32, nq * RERANK * K),
        ("int8_rerank", "int8_recall_at_10", full_scan, DIM, nq * RERANK * K),
        ("graph_beam3", "graph_recall_at_10", graph_cand, DIM * F32, 0),
        ("graph_ivf_beam3", "graph_ivf_recall_at_10", graph_ivf_cand, DIM * F32, 0),
        # multi-vector rows: candidate unit = token PAIR (16-dim),
        # normalized against maxsim_brute below, not the single-vector
        # bruteforce (different query shape)
        ("maxsim_brute", None, maxsim_brute_pairs, TDIM * F32, 0),
        ("maxsim_ivf_probe2", "maxsim_ivf_recall_at_10", maxsim_ivf_pairs, TDIM * F32, 0),
    ]

    rows = []
    bf_bytes = full_scan * DIM * F32
    maxsim_bf_bytes = maxsim_brute_pairs * TDIM * F32
    for tier, rq, cand, bpc, rerank_rows in tiers:
        t0 = time.time()
        recall = (
            1.0 if rq is None else REGISTRY[rq].fn(spark, SF_DIR).collect()[0].recall
        )
        scan_bytes = cand * bpc + rerank_rows * DIM * F32
        if tier.startswith("maxsim"):
            bf_bytes_for_tier = maxsim_bf_bytes
        else:
            bf_bytes_for_tier = bf_bytes
        rows.append(
            {
                "tier": tier,
                "recall_at_10": recall,
                "candidate_rows": cand,
                "bytes_per_candidate": bpc,
                "scan_mb": round(scan_bytes / 1e6, 3),
                "scan_vs_bruteforce": round(scan_bytes / bf_bytes_for_tier, 4),
                "recall_query_sec": round(time.time() - t0, 1),
            }
        )
        print(f"# {tier}: recall={recall} candidates={cand} "
              f"scan={rows[-1]['scan_vs_bruteforce']}x bf", file=sys.stderr)

    md = [
        "# FRONTIER — recall@10 vs scan work, all ANN tiers",
        "",
        f"Corpus: `{SF_DIR}` ({n} vectors, {nq} queries, k={K}). Recall values",
        "come from the registered oracle-verified recall queries; candidate",
        "counts are the exact row counts each tier's scan join scores",
        "(measured with the same joins, not estimated). `scan_vs_bruteforce`",
        "= bytes of vector data moved through the scan (+ bounded rerank)",
        "relative to the full-precision bruteforce scan — the number that,",
        "multiplied by corpus x query volume, prices a tier at 100 TB.",
        "",
        "| tier | recall@10 | candidate rows | B/candidate | scan MB | vs bruteforce |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        md.append(
            f"| {r['tier']} | {r['recall_at_10']} | {r['candidate_rows']} "
            f"| {r['bytes_per_candidate']} | {r['scan_mb']} | {r['scan_vs_bruteforce']} |"
        )
    md += [
        "",
        "Reading the frontier: exact-scored pruned tiers (lsh/multiprobe/ivf)",
        "trade recall for candidate pruning with a MONOTONE guarantee",
        "(superset candidates => recall >=, oracle-pinned in the registered",
        "`ann_frontier` query). Compressed tiers keep the full candidate set",
        "but shrink bytes/candidate 4-64x; their recall is approximation-",
        "bound, not coverage-bound, and NOT monotone in probes (pinned",
        "finding). At 100 TB the composed IVFxPQ row is the headline: cell",
        "pruning multiplied by 64x compression, with probe2 buying recall",
        "back at 2x its scan cost.",
        "",
        "The graph tiers (round 8) are the odd ones out: their candidate",
        "count is (hops x beam x degree)-bounded per query — independent of",
        "the corpus size AND of any cell's population — so their scan",
        "fraction IMPROVES as the corpus grows, where every other tier's",
        "candidate rows scale with N or with cell sizes. graph_ivf_beam3",
        "serves from the cheap probe-2 build (knn_graph_ivf); the graph",
        "BUILD cost is amortized once per corpus like every stored index",
        "here.",
        "",
        "The maxsim rows (round 12) are a DIFFERENT query shape — multi-",
        "vector late interaction, candidates counted as 16-dim token PAIRS",
        "— so their `vs bruteforce` normalizes against maxsim_brute, not",
        "the single-vector scan. maxsim_ivf_probe2 is the PLAID layout:",
        "the token quantizer prunes candidate DOCS, exact MaxSim rescoring",
        "keeps ranking quality probe-monotone (full-probe == brute, test-",
        "pinned). The token quantizer runs 32 cells (sized UP from the",
        "single-vector default 8: 16 query tokens x 2 probes over too few",
        "cells covers the whole corpus and prunes nothing — measured at 8",
        "cells the scan ratio was 0.98 at recall 1.0); production sizes",
        "n_cells with the token count.",
        "",
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "FRONTIER.md")
    # the generated block runs up to the first "## " section; keep
    # everything from there on (hand-written sections, the footer)
    try:
        with open(out) as f:
            old = f.read()
    except FileNotFoundError:
        old = ""
    cut = old.find("\n## ")
    tail = (
        old[cut + 1 :]
        if cut >= 0
        else f"Regenerate: `python tools/ann_frontier.py {SF_DIR}`.\n"
    )
    with open(out, "w") as f:
        f.write("\n".join(md) + "\n" + tail)
    print(json.dumps({"sf_dir": SF_DIR, "n_vectors": n, "tiers": rows}))


if __name__ == "__main__":
    main()
