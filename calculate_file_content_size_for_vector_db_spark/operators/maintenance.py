"""Table-maintenance patterns: skew-resistant aggregation, CDC upsert
(MERGE emulation), bucketed co-located joins.

These are the operational patterns a 100 TB lake needs around the
analytic operators:

- ``salted_count``: two-stage aggregation over a salted key. A single
  hot key (one domain dominating the corpus) turns a groupBy into one
  straggler task; salting fans the hot key over N partial groups, then
  a second tiny aggregation merges the partials. Result is IDENTICAL
  to the direct groupBy — which is exactly what the oracle checks.

- ``keyed_takedown`` / ``keyed_upsert``: the purge and replace verbs
  of every keyed store (MERGE INTO emulation without Delta/Iceberg,
  guide: 'CDC/SCD2 -> anti-join + union'). Every store family's
  takedown and upsert, the streaming faces' store legs and the
  parquet upsert sink go through these two; their contract is stated
  once, on ``keyed_takedown``.

- bucketed join: writing both sides bucketed by the join key lets
  Spark join without ANY shuffle (SortMergeJoin with zero Exchange).
  Registered as the ``bucketed_join_revenue`` query; the no-shuffle
  plan is pinned by tests/test_bucketing.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SALT_BUCKETS = 16


def salted_count(
    df: DataFrame, key: str, value_col: str, n_salts: int = SALT_BUCKETS
) -> DataFrame:
    """groupBy(key) count+sum via salt -> partial agg -> final agg."""
    salted = df.withColumn("_salt", F.pmod(F.crc32(F.col(value_col).cast("string")), F.lit(n_salts)))
    partial = salted.groupBy(key, "_salt").agg(
        F.count("*").alias("_n"), F.sum(value_col).alias("_s")
    )
    return partial.groupBy(key).agg(
        F.sum("_n").cast("long").alias("n"),
        F.round(F.sum("_s"), 6).alias("total"),
    )


def keyed_takedown(store: DataFrame, ids: DataFrame, key: str) -> DataFrame:
    """``store`` without its rows whose ``key`` is in ``ids`` — the
    contract every keyed store's purge and replace shares:

    - ``ids`` is a one-column, request-sized frame of keys (a takedown
      set, a re-delivered batch), renamed to ``key`` and broadcast, so
      the store is scanned once and never shuffled. A right side that
      grows with the corpus (a dup-id drop, an admitted ledger) is not
      a keyed purge: leave it to AQE, a forced broadcast can OOM.
    - No ``distinct``: a LEFT ANTI join ignores duplicate ids, and a
      distinct would add an exchange to every call.
    - A NULL id purges nothing; a second purge with the same ids is a
      no-op (replay-safe)."""
    return store.join(F.broadcast(ids.toDF(key)), key, "left_anti")


def keyed_upsert(
    store: DataFrame, ids: DataFrame, fresh: DataFrame, key: str
) -> DataFrame:
    """``keyed_takedown(store, ids, key)`` plus the ``fresh`` rows,
    matched to the store's columns by name (extra columns dropped).

    The purge set is ``ids``, not the keys of ``fresh``: a re-delivered
    doc may yield no fresh rows (no shingles, no tokens, a shorter
    token bag), and its old rows must still go. A replay gives the
    same store, since the purge removes exactly what the first append
    wrote — except for a NULL key, which no anti-join matches, so a
    NULL key in ``fresh`` fails the plan (a projection, no extra job)."""
    checked = F.when(
        F.col(key).isNull(),
        F.raise_error(f"keyed_upsert: NULL {key!r} in the fresh rows; it could never be purged"),
    ).otherwise(F.col(key))
    fresh = fresh.select(*(checked.alias(c) if c == key else c for c in store.columns))
    return keyed_takedown(store, ids, key).unionByName(fresh)


ZORDER_BITS = 4


def _zvalue(x: Column, y: Column, bits: int = ZORDER_BITS) -> Column:
    """Morton (Z-order) interleave of two ``bits``-bit integers: bit j
    of x lands at 2j, bit j of y at 2j+1. Pure integer bit arithmetic
    — bit-exact across engines."""
    terms = []
    for j in range(bits):
        terms.append(F.shiftleft(F.shiftright(x, j).bitwiseAND(F.lit(1)), 2 * j))
        terms.append(F.shiftleft(F.shiftright(y, j).bitwiseAND(F.lit(1)), 2 * j + 1))
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def zorder_layout(
    orders: DataFrame, n_files: int = 16, bits: int = ZORDER_BITS
) -> DataFrame:
    """(file_id, n_rows, min/max custkey, min/max orderdate): the
    per-file min/max footprint after laying ``orders`` out in Z-order
    over (o_custkey, o_orderdate) — the data-clustering step behind
    parquet row-group skipping / Delta OPTIMIZE ZORDER BY: because the
    Morton curve preserves locality in BOTH dimensions, every file's
    (min, max) box is narrow on custkey AND on date, so a predicate on
    EITHER column prunes most files. A single-column sort would give
    this for one dimension and destroy it for the other.

    Plan shape: one 1-row min/max aggregate broadcast back (the
    quantization frame), a narrow per-row z-value computation, then
    one keyed hash-agg over ``n_files`` groups. The actual write would
    be repartitionByRange(file_id) -> parquet; the query emits the
    skipping statistics that layout would give the reader."""
    span = orders.agg(
        F.min("o_custkey").alias("_ck_lo"),
        F.max("o_custkey").alias("_ck_hi"),
        F.min("o_orderdate").alias("_dt_lo"),
        F.max("o_orderdate").alias("_dt_hi"),
    )
    with_z = (
        orders.crossJoin(F.broadcast(span))
        .select(
            "o_custkey",
            "o_orderdate",
            F.expr(
                f"CAST((o_custkey - _ck_lo) * {1 << bits} "
                "div (_ck_hi - _ck_lo + 1) AS BIGINT)"
            ).alias("_x"),
            F.expr(
                f"CAST(datediff(o_orderdate, _dt_lo) * {1 << bits} "
                "div (datediff(_dt_hi, _dt_lo) + 1) AS BIGINT)"
            ).alias("_y"),
        )
        .select(
            "o_custkey",
            "o_orderdate",
            _zvalue(F.col("_x"), F.col("_y"), bits).alias("_z"),
        )
    )
    files_div = (1 << (2 * bits)) // n_files
    return (
        with_z.withColumn("file_id", F.expr(f"CAST(_z div {files_div} AS INT)"))
        .groupBy("file_id")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("o_custkey").cast("long").alias("min_custkey"),
            F.max("o_custkey").cast("long").alias("max_custkey"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_orderdate"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_orderdate"),
        )
    )


def key_skew_profile(df: DataFrame, key: str) -> DataFrame:
    """1-row skew diagnosis of a join/grouping key: distinct keys,
    per-key count percentiles (p50/p90/p99), the hottest key's count
    and its share of all rows, and skew_ratio = max/median — the
    number that decides whether a shuffle on this key needs salting
    or AQE skew-split BEFORE the 100-TB job runs. One keyed hash-agg
    to per-key counts (map-side partial), then one global agg over
    the keys-sized frame."""
    counts = df.groupBy(key).agg(F.count("*").cast("long").alias("c"))
    return counts.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("c").cast("long").alias("n_rows"),
        F.round(F.expr("percentile(c, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(c, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(c, 0.99)"), 6).alias("p99"),
        F.max("c").cast("long").alias("max_count"),
    ).select(
        "n_keys",
        "n_rows",
        "p50",
        "p90",
        "p99",
        "max_count",
        F.round(F.col("max_count") / F.col("n_rows").cast("double"), 6).alias("top1_share"),
        F.round(F.col("max_count") / F.col("p50"), 6).alias("skew_ratio"),
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = SALT_BUCKETS,
    salt_src: str | None = None,
) -> DataFrame:
    """Skew-resistant fact-dim equi-join: the fact side salts its key
    (deterministically from ``salt_src``, default a crc32 of the whole
    row key), the dim side replicates each row ``n_salts`` times, and
    the join runs on (key, salt) — a single hot key's rows spread over
    ``n_salts`` partitions instead of one straggler task. Result is
    row-for-row IDENTICAL to the plain join (which is exactly what the
    oracle checks); the cost is a dim side ``n_salts``x larger, which
    is the right trade precisely when the dim is small and the fact is
    skewed. The join-side counterpart of salted_count; AQE's runtime
    skew-split does this adaptively, this form pins it in the plan."""
    salt_col = (
        F.pmod(F.col(salt_src), F.lit(n_salts)).cast("int")
        if salt_src
        else F.pmod(F.crc32(F.col(key).cast("string")), F.lit(n_salts)).cast("int")
    )
    f = fact.withColumn("_salt", salt_col)
    d = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return f.join(d, [key, "_salt"]).drop("_salt")


def compaction_plan(
    files: DataFrame,
    target_bytes: int = 128 * 1024 * 1024,
    partition_col: str = "source",
    size_col: str = "size_bytes",
    key: str = "path",
) -> DataFrame:
    """(partition, key, size, compact_bin): which output file each
    small input file lands in when compacting a partition to
    ~``target_bytes`` files — the small-files maintenance pass every
    long-lived parquet lake needs (streaming sinks and per-trigger
    appends leave thousands of KB-scale files whose open/seek overhead
    dominates scans; compaction restores ~row-group-sized files).

    Deterministic first-fit-by-order packing: files sort by
    (size desc, key) within their partition, the EXCLUSIVE running sum
    of sizes is bucketed by target_bytes — so bins fill greedily and
    every engine derives the identical plan (no driver-side listing,
    no RNG). A bin can overflow target_bytes by at most one file —
    the standard compactor contract (files are never split).

    Plan shape: ONE per-partition window sum over the file LISTING —
    input is metadata rows (path, size), never file contents, so the
    planning pass is ~10^6x smaller than the data it organizes; the
    window parallelizes across partitions like pack_sequences. The
    rewrite itself is then per-bin file groups, embarrassingly
    parallel."""
    w = (
        Window.partitionBy(partition_col)
        .orderBy(F.desc(size_col), F.asc(key))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(size_col).over(w), F.lit(0)).cast("bigint")
    return files.select(
        F.col(partition_col),
        F.col(key),
        F.col(size_col).cast("bigint").alias(size_col),
        F.floor(cum_before / F.lit(target_bytes)).cast("int").alias("compact_bin"),
    )


def vacuum_plan(
    lake: DataFrame,
    key: str = "doc_id",
    version_col: str = "_v",
    file_col: str = "_file",
    threshold: float = 0.5,
) -> DataFrame:
    """(file, n_rows, n_live, live_frac, vacuum_candidate): per data
    file of a versioned append-only lake, how many of its rows are
    still the LATEST version of their key — the dead-version GC pass
    that completes the maintenance triad (snapshot_diff = what
    changed, compaction_plan = small files, vacuum_plan = superseded
    rows). Files whose live fraction falls below ``threshold`` are
    rewrite candidates: rewriting only their live rows reclaims the
    dead bytes without touching healthy files.

    ``lake`` carries one row per (key, version) — the CDC convention
    the lake-maintenance face appends under (a key appears at most
    once per version, so the latest-version argmax has no ties) —
    plus ``file_col`` identifying the physical file (e.g.
    F.input_file_name(), or partition/version labels for a logical
    plan).

    Plan shape: ONE window over (key) ranking versions, then one
    file-keyed hash-agg — only (key, version, file) triples shuffle,
    never content bytes (Catalyst prunes the rest at the scan), so
    the pass is fingerprint-sized like snapshot_diff. The comparison
    against ``threshold`` uses the UNROUNDED ratio (identical IEEE
    division in any engine); live_frac is 6-rounded for display."""
    w = Window.partitionBy(key).orderBy(F.desc(version_col))
    flagged = lake.select(key, version_col, file_col).withColumn(
        "_rn", F.row_number().over(w)
    )
    frac = F.col("n_live") / F.col("n_rows")
    return (
        flagged.groupBy(file_col)
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_live"),
        )
        .select(
            F.col(file_col),
            "n_rows",
            "n_live",
            F.round(frac, 6).alias("live_frac"),
            (frac < F.lit(threshold)).alias("vacuum_candidate"),
        )
    )


def zonemap_prune_stats(
    orders: DataFrame, n_files: int = 16, bits: int = ZORDER_BITS
) -> DataFrame:
    """(layout, predicate, files_total, files_read, prune_fraction):
    how many physical files a zone-map-aware reader must open under
    two competing layouts of the SAME table — Z-order on (o_custkey,
    o_orderdate) vs a linear range layout on o_custkey alone — for
    three representative predicates (a custkey band, a date band, and
    their conjunction). This is the observable that justifies paying
    for a Z-order rewrite: the linear layout prunes perfectly on its
    own sort key and not at all on the other dimension, while the
    Morton layout prunes usefully on BOTH (each file's min/max box is
    narrow in both quantized coordinates).

    Zone-map semantics are faithful: a file is read iff its per-file
    [min, max] box intersects the predicate box in every constrained
    dimension — overlap can admit files with no qualifying rows,
    exactly as parquet row-group skipping does. Predicates are the
    middle eighth of each quantized axis ([6, 7] of 0..15), derived
    from the same 1-row span frame the layout itself uses, so the row
    is deterministic at any SF.

    Plan shape: one 1-row min/max span broadcast, a narrow per-row
    quantization + Morton interleave, a 2-element explode tagging each
    row with both layouts, ONE (layout, file)-keyed hash-agg (2 *
    n_files groups, map-side partials), then a tiny cross join with
    the 3-row predicate frame. Nothing after the first scan scales
    with the table."""
    span = orders.agg(
        F.min("o_custkey").alias("_ck_lo"),
        F.max("o_custkey").alias("_ck_hi"),
        F.min("o_orderdate").alias("_dt_lo"),
        F.max("o_orderdate").alias("_dt_hi"),
    )
    files_div = (1 << (2 * bits)) // n_files
    with_xy = (
        orders.crossJoin(F.broadcast(span))
        .select(
            F.expr(
                f"CAST((o_custkey - _ck_lo) * {1 << bits} "
                "div (_ck_hi - _ck_lo + 1) AS BIGINT)"
            ).alias("_x"),
            F.expr(
                f"CAST(datediff(o_orderdate, _dt_lo) * {1 << bits} "
                "div (datediff(_dt_hi, _dt_lo) + 1) AS BIGINT)"
            ).alias("_y"),
        )
        .withColumn("_z", _zvalue(F.col("_x"), F.col("_y"), bits))
    )
    tagged = with_xy.select(
        "_x",
        "_y",
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr(f"CAST(_z div {files_div} AS INT)").alias("file_id"),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.col("_x").cast("int").alias("file_id"),
                ),
            )
        ).alias("_lf"),
    ).select("_x", "_y", F.col("_lf.layout").alias("layout"), F.col("_lf.file_id").alias("file_id"))
    boxes = tagged.groupBy("layout", "file_id").agg(
        F.min("_x").alias("min_x"),
        F.max("_x").alias("max_x"),
        F.min("_y").alias("min_y"),
        F.max("_y").alias("max_y"),
    )
    hi = (1 << bits) - 1
    preds = orders.sparkSession.createDataFrame(
        [
            ("custkey_band", 6, 7, 0, hi),
            ("date_band", 0, hi, 6, 7),
            ("both_bands", 6, 7, 6, 7),
        ],
        "predicate string, px_lo int, px_hi int, py_lo int, py_hi int",
    )
    overlap = (
        (F.col("max_x") >= F.col("px_lo"))
        & (F.col("min_x") <= F.col("px_hi"))
        & (F.col("max_y") >= F.col("py_lo"))
        & (F.col("min_y") <= F.col("py_hi"))
    )
    counted = (
        boxes.crossJoin(F.broadcast(preds))
        .groupBy("layout", "predicate")
        .agg(
            F.count("*").cast("long").alias("files_total"),
            F.sum(F.when(overlap, 1).otherwise(0)).cast("long").alias("files_read"),
        )
    )
    return counted.select(
        "layout",
        "predicate",
        "files_total",
        "files_read",
        F.round(
            F.lit(1.0) - F.col("files_read") / F.col("files_total").cast("double"), 6
        ).alias("prune_fraction"),
    )


def join_size_cms(
    a_keys: DataFrame,
    b_keys: DataFrame,
    key: str = "k",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """One row estimating |A ⋈ B| on a key WITHOUT touching either
    table's pair space: the Count-Min inner product (Cormode &
    Muthukrishnan 2005, §4.2). Fill one depth×width CMS per side over
    the join key, take S_r = Σ_col cmsA[r,col]·cmsB[r,col] per row and
    est = min_r S_r. Every true match lands in the same cell on both
    sides, so est ≥ exact ALWAYS (collisions only add); expected
    overcount ≤ |A|·|B|/width per row, min over depth rows.

    This is the join-size estimator a 100-TB planner consults before
    choosing shuffle vs broadcast vs salting (the key_skew_profile
    companion): the sketches are fixed-size grids maintainable per
    ingest (CMS is linear — cell-wise sums merge shards/days, the
    mergeability tests/test_streaming.py already pins for the token
    sketch), so the estimate costs two grid scans where the exact
    answer at planning time would BE the join being planned. The
    exact join size is carried as the QA baseline column (one keyed
    count-agg per side + one equi-join over the key dictionary —
    fixture-affordable, and still far cheaper than the row-level
    join). Construction is integer arithmetic end-to-end off the
    md5-hex hash (the cms_cell plumbing), so the oracle reproduces
    the grids, the products, and the min bit-for-bit.

    Columns: n_a, n_b, n_keys_a, n_keys_b, exact_join_rows,
    est_join_rows, overcount (≥ 0 by the theorem — hash-pinned),
    within_bound (overcount ≤ 3·|A|·|B|/width, 3× the per-row
    expectation; deterministic given the hash, so once green it is
    pinned permanently)."""
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        cms_cell,
    )

    def _sketch(df: DataFrame) -> DataFrame:
        cells = df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("row"),
                            cms_cell(F.col(key).cast("string"), r, width).alias(
                                "col"
                            ),
                        )
                        for r in range(depth)
                    ]
                )
            ).alias("c")
        ).select("c.row", "c.col")
        return cells.groupBy("row", "col").agg(
            F.count("*").cast("long").alias("cnt")
        )

    sa = _sketch(a_keys).withColumnRenamed("cnt", "cnt_a")
    sb = _sketch(b_keys).withColumnRenamed("cnt", "cnt_b")
    est = (
        sa.join(sb, ["row", "col"])  # absent cells are 0 -> product 0: inner join exact
        .groupBy("row")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("_s"))
        .agg(F.min("_s").cast("long").alias("est_join_rows"))
    )
    ka = a_keys.groupBy(key).agg(F.count("*").cast("long").alias("_ca"))
    kb = b_keys.groupBy(key).agg(F.count("*").cast("long").alias("_cb"))
    exact = (
        ka.join(kb, key)
        .agg(F.sum(F.col("_ca") * F.col("_cb")).cast("long").alias("exact_join_rows"))
        .select(F.coalesce(F.col("exact_join_rows"), F.lit(0)).alias("exact_join_rows"))
    )
    tot_a = ka.agg(
        F.sum("_ca").cast("long").alias("n_a"),
        F.count("*").cast("long").alias("n_keys_a"),
    )
    tot_b = kb.agg(
        F.sum("_cb").cast("long").alias("n_b"),
        F.count("*").cast("long").alias("n_keys_b"),
    )
    row = (
        tot_a.crossJoin(F.broadcast(tot_b))
        .crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(est))
    )
    over = F.col("est_join_rows") - F.col("exact_join_rows")
    return row.select(
        "n_a",
        "n_b",
        "n_keys_a",
        "n_keys_b",
        "exact_join_rows",
        "est_join_rows",
        over.cast("long").alias("overcount"),
        (
            over.cast("double")
            <= F.lit(3.0) * F.col("n_a") * F.col("n_b") / F.lit(float(width))
        ).alias("within_bound"),
    )
