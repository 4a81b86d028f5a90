"""Composed ingest face: all four per-trigger faces over ONE shared
store (VERDICT r08 item 6 / r09 item 5). A production ingest does not
run the near-dup gate, the index maintainer, the datacard and the
drift monitor as four separate streams over four copies of the data —
it runs ONE foreachBatch whose trigger body is:

    admitted = gate(batch)          # quality: greedy near-dup gate
    maintain_index(admitted)        # serving: IVF assign + Bloom delta
    append_card_partials(admitted)  # observability: release summary
    append_drift_marginals(admitted)# monitoring: the pager

Every downstream face sees ADMITTED DOCS ONLY — a rejected duplicate
appears in no store, so the card's n_docs, the assignment store's row
count, the drift marginals' mass and the admitted store itself all
advance in lockstep (the cross-face consistency the composed test
pins). The bodies are the EXACT module-level batch functions the solo
faces run (gate_batch / maintain_index_batch / append_card_partials /
append_drift_marginals) — composition adds ordering, not new code
paths, so each face's solo parity contract (face == batch query over
admitted docs) carries over verbatim.

Cross-face ordering & idempotence (the PLANS.md "composed faces"
note, in code):

- **Order within a trigger**: the gate MUST run first (it defines the
  admitted set) and it reads the band/shingle store as-of the previous
  trigger before appending its own admissions — the same read-then-
  append discipline the solo gate has, composition changes nothing.
  The three downstream faces are mutually order-independent (disjoint
  store subtrees, admitted-only input) and run after the gate in a
  fixed order purely for determinism of the trigger's write sequence.
- **Replay**: each face keeps its own replay contract — bit_or deltas
  are idempotent, sum-partials are batch_id-tagged and distinct()-
  folded, gate/assign appends rely on availableNow + checkpoint
  effectively-once. Composition introduces NO new cross-face state:
  a replayed trigger re-derives the same admitted set against the
  store as of that batch and re-appends byte-identical partials.
- **All-rejected triggers write nothing downstream**: the admitted
  frame is counted once (served from the gate's eager localCheckpoint
  snapshot) and an empty one short-circuits — this also keeps the
  index face's trigger-0 cold-start quantizer training off empty
  batches.

State model: ZERO executor/state-store bytes, like every solo face —
the shared store IS the cross-trigger memory. Per-trigger cost is the
sum of the four batch-sized bodies; the corpus appears in no plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from calculate_file_content_size_for_vector_db_spark.session import cache_scope
from calculate_file_content_size_for_vector_db_spark.streaming.datacard import append_card_partials
from calculate_file_content_size_for_vector_db_spark.streaming.drift import append_drift_marginals
from calculate_file_content_size_for_vector_db_spark.streaming.index_maintenance import (
    maintain_index_batch,
)
from calculate_file_content_size_for_vector_db_spark.streaming.neardup import gate_batch


def composed_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    threshold: float = 0.5,
    text_col: str = "text",
    key: str = "doc_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> None:
    """One trigger of the composed face (batch-callable, like the solo
    faces' bodies). Store layout under ``store_dir``: bands/ shingles/
    admitted/ (gate), index/{centroids,assign,bloom,metrics} (index
    face), card/{scalars,langs,sources,hll} (datacard face),
    drift/{hist,langs} (drift face)."""
    # One scope around all four bodies: the gate's admitted checkpoint
    # stays alive for the three downstream faces, and this outermost
    # scope releases it with the rest of the trigger's state.
    with cache_scope(batch_df.sparkSession):
        admitted = gate_batch(
            batch_df,
            f"{store_dir}/bands",
            f"{store_dir}/shingles",
            f"{store_dir}/admitted",
            threshold,
            text_col,
            key,
            max_bucket_size,
        )
        # admitted is an eager localCheckpoint snapshot (see
        # gate_batch) — safe to keep evaluating even though the gate
        # just mutated the stores its plan read; count() here is
        # served from the snapshot.
        if admitted.count() == 0:
            return
        maintain_index_batch(
            admitted, batch_id, f"{store_dir}/index", key, text_col, vec_col
        )
        append_card_partials(admitted, batch_id, f"{store_dir}/card", text_col)
        append_drift_marginals(admitted, batch_id, f"{store_dir}/drift", text_col)

