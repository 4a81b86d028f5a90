"""Query registry backing __spark_entry__.py — package facade.

The former 10k-line entry_queries.py monolith is split into
per-family modules (VERDICT r08 item 7). Importing this package
imports every family module; each @register call adds to the shared
REGISTRY in _core, so REGISTRY is in registration order. The
verification order is computed from the CORRECTNESS history by
``__spark_entry__.verification_order``, not kept here.
"""

from __future__ import annotations

from calculate_file_content_size_for_vector_db_spark.entry_queries._core import (  # noqa: F401
    FIXTURE_CHUNK_SIZE,
    Q,
    REGISTRY,
    _BPE_N,
    _DISC_REV,
    _INCR_BATCH_MOD,
    _SQL_CHUNKS,
    _SQL_EMB,
    _SQL_MINHASH_BANDS,
    _SQL_PREPROCESS,
    _SQL_QUALITY_CHAIN,
    _SQL_SHINGLES,
    _SQL_TOKENS,
    _docs,
    _emb,
    _events,
    _pipe,
    _sql_bpe_chain,
    _sql_hashed_features,
    _sql_lloyd,
    _sql_logreg_chain,
    _sql_pq_chain,
    register,
)

# Family modules — import order is registration order.
from calculate_file_content_size_for_vector_db_spark.entry_queries import (  # noqa: E402,F401
    core,
    text,
    dedup,
    similarity,
    events,
    relational,
    analytics,
    multimodal,
    maintenance,
    curation,
    pipelines,
)
