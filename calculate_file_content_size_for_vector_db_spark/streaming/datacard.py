"""Streaming data-card maintenance face: the OBSERVABILITY counterpart
of the face family (near-dup gate = quality, lake face = storage,
index face = serving artifacts, this = the release summary). Each
micro-batch appends its BOUNDED partial card state — exactly the
per-day partials the batch `corpus_datacard_merge` query proves
mergeable — and the current card is one fold over the state store:

- **scalars/**: 1 row per trigger (n_docs, token/char mass, n_empty);
- **langs/**, **sources/**: |batch langs| / |batch sources| rows per
  trigger (distinct counts over low-cardinality columns merge as
  per-key sum tables);
- **hll/**: ≤m register rows per trigger (the text-hash HyperLogLog —
  a mergeable unique-text count must be a sketch).

State model — identical to the other faces: ZERO executor/state-store
bytes; foreachBatch holds nothing between triggers, the store IS the
cross-trigger memory. Per-trigger cost: one batch scan into four
bounded aggregates + four bounded appends; the corpus appears in no
plan, and the fold input stays metadata-scale forever (per-trigger
row counts are 1 + |langs| + |sources| + m, corpus-independent).

Replay safety: sum-folds are NOT idempotent the way the bloom face's
bit_or is, so every state row carries its batch_id and the read-side
fold runs `distinct()` first — a checkpoint replay re-appends rows
IDENTICAL to the originals (each batch's partial is deterministic),
and distinct-by-identity collapses them, making the sum-fold replay-
safe end-to-end (pinned by the face test's replay shape).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.operators.maintenance import (
    keyed_takedown,
    keyed_upsert,
)
from calculate_file_content_size_for_vector_db_spark.session import cache_scope, cached
from calculate_file_content_size_for_vector_db_spark.operators.textstats import tokens

_HLL_P = 8


def _hll_regs(
    df: DataFrame, text_col: str, p: int = _HLL_P, group_cols: list[str] | None = None
) -> DataFrame:
    """(reg, rho): the batch's partial HLL register table over text
    md5 hashes — the corpus_datacard_merge register construction.
    ``group_cols`` computes one register table PER GROUP (the refold
    path recomputes several touched batches in one pass)."""
    m = 1 << p
    wbits = 60 - p
    g = group_cols or []
    return (
        df.where(F.col(text_col).isNotNull())
        .select(
            *g,
            F.conv(F.substring(F.md5(F.col(text_col)), 1, 15), 16, 10)
            .cast("bigint")
            .alias("_h"),
        )
        .select(
            *g,
            F.pmod(F.col("_h"), F.lit(m)).cast("int").alias("reg"),
            F.expr(f"_h div {m}").alias("_w"),
        )
        .select(
            *g,
            "reg",
            F.when(F.col("_w") == 0, F.lit(wbits + 1))
            .otherwise(F.lit(wbits + 1) - F.length(F.bin("_w")))
            .cast("int")
            .alias("rho"),
        )
        .groupBy(*g, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def read_datacard(spark, card_dir: str, p: int = _HLL_P) -> DataFrame:
    """(metric, value): the CURRENT data card — the append-only partial
    store folded. Equal to `corpus_datacard_merge` over every document
    ever admitted (same metrics, same estimator arithmetic), through
    the streaming store. distinct() before each fold makes a replayed
    (re-appended, byte-identical) partial a no-op."""
    m = 1 << p
    scal = (
        spark.read.parquet(f"{card_dir}/scalars")
        .distinct()
        .agg(
            F.sum("_n").cast("double").alias("n_docs"),
            F.sum("_tok").cast("double").alias("total_tokens"),
            F.sum("_ch").cast("double").alias("total_chars"),
            F.sum("_emp").cast("double").alias("n_empty"),
        )
    )
    lang_stats = (
        spark.read.parquet(f"{card_dir}/langs")
        .distinct()
        .groupBy("lang")
        .agg(F.sum("_c").alias("_c"))
        .agg(
            F.count("*").cast("double").alias("n_langs"),
            F.max("_c").cast("double").alias("_top_lang_docs"),
        )
    )
    source_stats = (
        spark.read.parquet(f"{card_dir}/sources")
        .distinct()
        .groupBy("source")
        .agg(F.sum("_c").alias("_c"))
        .agg(F.count("*").cast("double").alias("n_sources"))
    )
    est_agg = (
        spark.read.parquet(f"{card_dir}/hll")
        .distinct()
        .groupBy("reg")
        .agg(F.max("rho").alias("rho"))
        .agg(
            F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("_s"),
            F.count("*").cast("long").alias("_nz"),
        )
    )
    zeros = (F.lit(m) - F.col("_nz")).cast("double")
    raw = F.lit(0.7213 / (1 + 1.079 / m)) * m * m / (F.col("_s") + zeros)
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    uniq = est_agg.select(F.round(est, 6).alias("est_uniq_texts"))
    row = (
        scal.crossJoin(F.broadcast(lang_stats))
        .crossJoin(F.broadcast(source_stats))
        .crossJoin(F.broadcast(uniq))
        .select(
            "n_docs",
            "n_sources",
            "n_langs",
            "total_tokens",
            "total_chars",
            "n_empty",
            F.round(F.col("n_empty") / F.col("n_docs"), 6).alias("empty_fraction"),
            "est_uniq_texts",
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0) - F.col("est_uniq_texts") / F.col("n_docs"),
                ),
                6,
            ).alias("approx_dup_fraction"),
            F.round(F.col("total_tokens") / F.col("n_docs"), 6).alias(
                "mean_doc_tokens"
            ),
            F.round(F.col("_top_lang_docs") / F.col("n_docs"), 6).alias(
                "top_lang_share"
            ),
        )
    )
    cols = [
        "n_docs", "n_sources", "n_langs", "total_tokens", "total_chars",
        "n_empty", "empty_fraction", "est_uniq_texts", "approx_dup_fraction",
        "mean_doc_tokens", "top_lang_share",
    ]
    stack = ", ".join(f"'{c}', {c}" for c in cols)
    return row.selectExpr(f"stack({len(cols)}, {stack}) AS (metric, value)")


def append_card_partials(
    batch_df: DataFrame,
    batch_id: int,
    card_dir: str,
    text_col: str = "text",
    p: int = _HLL_P,
) -> None:
    """One trigger's worth of card maintenance, as a plain batch
    function (the solo face and streaming/composed.py both call exactly
    this): four bounded, batch_id-tagged partial appends under
    ``card_dir`` — scalars/, langs/, sources/, hll/; read the current
    card with `read_datacard`. ``batch_df`` rows carry (doc_id, text,
    lang, source)."""
    bid = F.lit(batch_id).cast("long").alias("batch_id")
    t = F.size(tokens(text_col)).cast("long")
    with cache_scope(batch_df.sparkSession):
        batch_df = cached(batch_df)
        batch_df.agg(
            F.count("*").cast("long").alias("_n"),
            F.sum(t).alias("_tok"),
            F.sum(F.length(text_col)).alias("_ch"),
            F.sum(F.when(t == 0, 1).otherwise(0)).alias("_emp"),
        ).select(bid, "*").write.mode("append").parquet(f"{card_dir}/scalars")
        batch_df.groupBy("lang").agg(F.count("*").alias("_c")).select(
            bid, "*"
        ).write.mode("append").parquet(f"{card_dir}/langs")
        batch_df.groupBy("source").agg(F.count("*").alias("_c")).select(
            bid, "*"
        ).write.mode("append").parquet(f"{card_dir}/sources")
        _hll_regs(batch_df, text_col, p).select(bid, "*").write.mode(
            "append"
        ).parquet(f"{card_dir}/hll")


def refold_touched_batches(
    admitted: DataFrame,
    takedown: DataFrame,
    store_dir: str,
    refold: Callable[[DataFrame], dict[str, DataFrame]],
) -> None:
    """The takedown of a sum-fold partial store (the card and drift
    stores): a forgotten doc's contribution is blended into its
    batch's partial and cannot be subtracted row-wise, so every
    TOUCHED batch — one holding a takedown doc in the batch-tagged
    ``admitted`` ledger — is re-folded from its surviving rows, and
    each sub-store under ``store_dir`` gets a keyed_upsert on
    batch_id; untouched batches' partials stay byte-verbatim.
    ``refold(survivors)`` returns {sub-store name: fresh partials}.

    Cost at 100 TB: one broadcast semi-join of the ledger finds the
    touched batch ids; the refold scans only those batches' rows; each
    rewrite is a metadata-scale keyed_upsert through
    store_swap.swap_rewrite, healed first, so a crash mid-rewrite
    never destroys untouched partials (ADVICE r11 item 2). Runs in a
    cache_scope whether it is the takedown face's sub-body or a batch
    query."""
    from calculate_file_content_size_for_vector_db_spark.streaming.store_swap import (
        heal_store,
        swap_rewrite,
    )

    spark = admitted.sparkSession
    with cache_scope(spark):
        td = takedown.select("doc_id").distinct()
        touched = (
            admitted.join(F.broadcast(td), "doc_id", "left_semi")
            .select("batch_id")
            .distinct()
            .localCheckpoint(eager=True)
        )
        batches = admitted.join(F.broadcast(touched), "batch_id", "left_semi")
        surv = cached(keyed_takedown(batches, td, "doc_id"))
        for sub, fresh in refold(surv).items():
            path = f"{store_dir}/{sub}"
            heal_store(spark, path)
            stored = spark.read.parquet(path)
            swap_rewrite(spark, path, keyed_upsert(stored, touched, fresh, "batch_id"))


def refold_card_takedown(
    admitted: DataFrame,
    takedown: DataFrame,
    card_dir: str,
    text_col: str = "text",
    p: int = _HLL_P,
) -> None:
    """Right-to-be-forgotten for the SUM-FOLD card store — the honest
    contract from PLANS.md ("Sum-fold stores are takedown-INCAPABLE"):
    HLL registers are max-folded (strictly irreversible) and scalar
    sums lose the doc boundary, so the batch is the blast radius —
    refold_touched_batches re-folds every touched batch's four
    partials from its admitted-minus-takedown rows. Because per-key
    sum and per-register max are associative, the refolded store
    folds to exactly the card of the survivor corpus (the equality
    datacard_takedown_refold's oracle hashes); dropping a touched
    batch's partials WITHOUT recomputing loses that batch's SURVIVORS
    too (the naive-purge falsifier the test pins).

    ``admitted`` carries the batch-tagged admitted ledger
    (batch_id, doc_id, text, lang, source) — the raw rows a
    production ingest already keeps per trigger."""

    def refold(surv: DataFrame) -> dict[str, DataFrame]:
        t = F.size(tokens(text_col)).cast("long")
        return {
            "scalars": surv.groupBy("batch_id").agg(
                F.count("*").cast("long").alias("_n"),
                F.sum(t).alias("_tok"),
                F.sum(F.length(text_col)).alias("_ch"),
                F.sum(F.when(t == 0, 1).otherwise(0)).alias("_emp"),
            ),
            "langs": surv.groupBy("batch_id", "lang").agg(F.count("*").alias("_c")),
            "sources": surv.groupBy("batch_id", "source").agg(F.count("*").alias("_c")),
            "hll": _hll_regs(surv, text_col, p, group_cols=["batch_id"]),
        }

    refold_touched_batches(admitted, takedown, card_dir, refold)
