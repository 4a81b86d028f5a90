"""Streaming drift-monitor face: the MONITORING counterpart of the
face family (near-dup gate = quality, lake face = storage, index face
= serving artifacts, datacard face = release summary, this = the
pager). Each micro-batch appends its two BOUNDED distribution
marginals — exactly the partials the batch `drift_psi` query is
defined over (operators/textstats.py: psi_length_hist /
psi_lang_marginal) — and the current drift reading is
`psi_from_marginals` over the folded store vs the frozen reference
marginals:

- **hist/**: ≤n_bins rows per trigger (equi-width text-length
  histogram, the quantile_hist_merge binning);
- **langs/**: |batch langs| rows per trigger (language mix; sum(c)
  doubles as the batch row count, so no separate scalar store).

State model — identical to the other faces: ZERO executor/state-store
bytes; foreachBatch holds nothing between triggers, the marginal
store IS the cross-trigger memory. Per-trigger cost: one batch scan
into two bounded aggregates + two bounded appends; the corpus appears
in no plan, and the read-side fold input is ≤(n_bins + |langs|) rows
per trigger ever written — metadata-scale at any corpus size. The
reference side is FROZEN marginals (computed once from the last
release, or read from the datacard-era store): at 100 TB the drift
number costs two stored-marginal reads, never a corpus scan.

Replay safety: the datacard face's pattern verbatim — sum-folds are
not idempotent, so every appended row carries its batch_id and the
read-side fold runs `distinct()` first; a checkpoint replay
re-appends rows IDENTICAL to the originals (each batch's marginal is
deterministic) and distinct-by-identity collapses them.

Parity contract (pinned by tests/test_streaming.py): after any number
of triggers, `read_drift(spark, base_docs, marginals_dir)` ==
`drift_psi(base_docs, union-of-all-admitted-batches)` row-for-row —
both sides are the same `psi_from_marginals` composition, so the test
pins the store/fold seam, not a reimplementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.session import cache_scope, cached
from calculate_file_content_size_for_vector_db_spark.streaming.datacard import refold_touched_batches
from calculate_file_content_size_for_vector_db_spark.streaming.store_swap import _exists
from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
    psi_from_marginals,
    psi_lang_marginal,
    psi_length_hist,
)


def append_drift_marginals(
    batch_df: DataFrame,
    batch_id: int,
    marginals_dir: str,
    text_col: str = "text",
    n_bins: int = 256,
    bin_width: int = 8,
) -> None:
    """One trigger's worth of drift maintenance, as a plain batch
    function (the solo face and streaming/composed.py both call exactly
    this): two bounded, batch_id-tagged marginal appends under
    ``marginals_dir`` — hist/, langs/; read the current drift number
    with `read_drift`."""
    bid = F.lit(batch_id).cast("long").alias("batch_id")
    with cache_scope(batch_df.sparkSession):
        batch_df = cached(batch_df)
        psi_length_hist(batch_df, text_col, n_bins, bin_width).select(
            bid, "*"
        ).write.mode("append").parquet(f"{marginals_dir}/hist")
        psi_lang_marginal(batch_df).select(bid, "*").write.mode(
            "append"
        ).parquet(f"{marginals_dir}/langs")


def refold_drift_takedown(
    admitted: DataFrame,
    takedown: DataFrame,
    marginals_dir: str,
    text_col: str = "text",
    n_bins: int = 256,
    bin_width: int = 8,
) -> None:
    """Right-to-be-forgotten for the drift marginal store — the same
    sum-fold family as the datacard partials and the same honest
    contract (VERDICT r11 item 7: a forgotten doc's length/lang
    contributions otherwise persist in the reference marginals): per-
    batch (bin,c)/(lang,c) counts cannot be row-subtracted once the
    doc boundary is folded away, so datacard.refold_touched_batches
    recomputes every touched batch's two marginals from its
    admitted-minus-takedown rows (one grouped pass each, via the
    group_cols hook of the SAME builders the appender uses). Per-key
    sum is associative, so the refolded store folds to exactly the
    marginals of the survivor ingest — refold == rebuild, the
    equality drift_takedown_refold's oracle hashes.

    ``admitted`` carries the batch-tagged admitted ledger
    (batch_id, doc_id, text, lang, ...) a production ingest already
    keeps."""

    def refold(surv: DataFrame) -> dict[str, DataFrame]:
        return {
            "hist": psi_length_hist(
                surv, text_col, n_bins, bin_width, group_cols=["batch_id"]
            ),
            "langs": psi_lang_marginal(surv, group_cols=["batch_id"]),
        }

    refold_touched_batches(admitted, takedown, marginals_dir, refold)


def read_ingest_marginals(
    spark, marginals_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(hist, langs): the admitted-so-far marginals — the append-only
    partial store folded by key-sum, distinct() first so a replayed
    (re-appended, byte-identical) partial is a no-op.

    Bootstrap: before the first trigger neither store dir exists — a
    cold read means ZERO admitted docs, so substitute empty marginals
    (same contract as the near-dup gate's empty-corpus bootstrap).
    PSI stays finite under Laplace smoothing but is NOT an alarm —
    with zero counts the smoothed batch distribution is the uniform
    prior, so the PSI reads near-prior divergence, not drift; the
    operator-facing cold signal is n_batch == 0 in the output row."""

    def _read(path: str, schema: str, key: str) -> DataFrame:
        raw = (
            spark.read.parquet(path)
            if _exists(spark, path)
            else spark.createDataFrame([], f"batch_id long, {schema}")
        )
        return (
            raw.distinct()
            .groupBy(key)
            .agg(F.sum("c").cast("long").alias("c"))
        )

    return (
        _read(f"{marginals_dir}/hist", "bin int, c long", "bin"),
        _read(f"{marginals_dir}/langs", "lang string, c long", "lang"),
    )


def read_drift(
    spark,
    base: DataFrame,
    marginals_dir: str,
    text_col: str = "text",
    n_bins: int = 256,
    bin_width: int = 8,
) -> DataFrame:
    """The CURRENT drift row — `drift_psi(base, everything admitted)`
    through the streaming store: psi_from_marginals over the frozen
    reference marginals and the folded ingest marginals. ``base`` is
    the reference corpus frame; a deployment that already stores the
    reference's (bin,c)/(lang,c) tables passes them via
    psi_from_marginals directly and never scans either corpus."""
    hist_b, lang_b = read_ingest_marginals(spark, marginals_dir)
    return psi_from_marginals(
        psi_length_hist(base, text_col, n_bins, bin_width),
        hist_b,
        psi_lang_marginal(base),
        lang_b,
        n_bins=n_bins,
    )
