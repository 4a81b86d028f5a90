"""Every registered query vs its DuckDB oracle at sf0.001 (fast local
replica of the driver's t2 gate — the driver itself runs sf0.01)."""

import pytest

from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY
from tests.conftest import SF_DIR
from tests.oracle_harness import duck_connection, run_one


@pytest.fixture(scope="module")
def con():
    return duck_connection(SF_DIR)


# Rows measured at >= 5 s each in a full-suite duration capture (the
# store-writing flagships and composed pipelines); they run in the slow
# tier so the default run stays inside a short verify window.
_SLOW_ROWS = {
    "ann_frontier", "bm25_search_stored", "bm25_takedown_search",
    "bm25_upsert_search", "bpe_apply_oov", "bpe_apply_stored",
    "bpe_apply_tokens", "bpe_fertility_by_lang", "bpe_train_merges",
    "composed_faces_ledger", "datacard_takedown_refold", "dedup_clusters",
    "dedup_clusters_append", "dedup_clusters_star", "dedup_pair_quality",
    "dedup_semantic_append", "dedup_survivors", "dedup_takedown_recluster",
    "dedup_upsert_relabel", "drift_takedown_refold",
    "graph_filtered_recall_at_10", "graph_ivf_recall_at_10",
    "graph_recall_at_10", "ingest_pipeline", "ingest_replay_idempotent",
    "ingest_serve_handoff", "ingest_takedown_readmit", "ivf_recall_at_10",
    "ivfpq_recall_at_10", "knn_clustering_coeff", "knn_graph_ivf",
    "knn_pagerank", "lifecycle_takedown_upsert",
    "maxsim_filtered_recall_at_10", "maxsim_ivf_recall_at_10",
    "quality_classifier_score", "quality_classifier_score_sampled",
    "serving_pipeline", "sim_graph_takedown_serve",
    "sim_graph_upsert_serve", "sim_ivf_takedown_serve",
    "sim_maxsim_takedown_serve", "sim_maxsim_upsert_serve",
    "sim_topk_graph", "sim_topk_graph_filtered", "sim_topk_graph_stored",
    "sim_topk_ivf_stored", "sim_topk_ivf_stored_filtered", "sim_topk_ivfpq",
    "sim_topk_ivfpq_probe2", "sim_topk_maxsim_ivf",
    "sim_topk_maxsim_ivf_filtered", "upsert_face_relabel",
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_ROWS else n
        for n in sorted(REGISTRY)
    ],
)
def test_query_matches_oracle(spark, con, name):
    q = REGISTRY[name]
    problems = run_one(spark, con, name, q.fn, q.oracle, SF_DIR)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_entry_smoke(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    assert df.count() > 0
    assert set(mod.oracle_sql()) <= set(mod.queries())
