"""Relational query family (split from the entry_queries monolith;
see entry_queries/__init__.py for the assembled registry)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.session import cached
from calculate_file_content_size_for_vector_db_spark.sources.io import read_table

from calculate_file_content_size_for_vector_db_spark.entry_queries._core import _docs, register


# ---------------------------------------------------------------------------
# Relational analytics (operators/relational.py) over the TPC-H-ish schema
# ---------------------------------------------------------------------------


@register(
    "tpch_q1",
    """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(28,8)) * (CAST(1 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def tpch_q1_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.relational import pricing_summary

    return pricing_summary(read_table(spark, sf_dir, "lineitem"))


@register(
    "tpch_q3",
    """
SELECT o_orderkey, orderdate, o_orderpriority, revenue FROM (
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
) ORDER BY revenue DESC, o_orderkey LIMIT 10
""",
)
def tpch_q3_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.relational import shipping_priority

    return shipping_priority(
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "lineitem"),
    )


@register(
    "tpch_q5",
    """
SELECT n_name, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""",
)
def tpch_q5_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.relational import (
        local_supplier_volume,
    )

    return local_supplier_volume(
        read_table(spark, sf_dir, "region"),
        read_table(spark, sf_dir, "nation"),
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "supplier"),
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "lineitem"),
    )


@register(
    "anti_join_customers",
    """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
""",
)
def anti_join_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.relational import (
        customers_without_orders,
    )

    return customers_without_orders(
        read_table(spark, sf_dir, "customer"), read_table(spark, sf_dir, "orders")
    )


@register(
    "semi_join_customers",
    """
SELECT count(*) AS n_customers FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
""",
)
def semi_join_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.relational import (
        customers_with_orders_count,
    )

    return customers_with_orders_count(
        read_table(spark, sf_dir, "customer"), read_table(spark, sf_dir, "orders")
    )


@register(
    "nation_set_ops",
    """
WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
SELECT nationkey, 'both' AS set_op
FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
UNION ALL
SELECT nationkey, 'customers_only' AS set_op
FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
""",
)
def nation_set_ops_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.relational import nation_set_ops

    return nation_set_ops(
        read_table(spark, sf_dir, "customer"), read_table(spark, sf_dir, "supplier")
    )


@register(
    "doc_cube",
    """
SELECT COALESCE(lang, 'ALL') AS lang_g, COALESCE(source, 'ALL') AS source_g,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
FROM documents GROUP BY CUBE(lang, source)
""",
)
def doc_cube_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.relational import doc_cube

    return doc_cube(_docs(spark, sf_dir))


_LANGS = ["de", "en", "es", "fr", "zh"]


@register(
    "lang_pivot",
    "SELECT source, "
    + ", ".join(
        f"CAST(count(*) FILTER (lang = '{lg}') AS BIGINT) AS n_{lg}" for lg in _LANGS
    )
    + " FROM documents GROUP BY source",
)
def lang_pivot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.relational import lang_pivot

    return lang_pivot(_docs(spark, sf_dir), _LANGS)


@register(
    "distinct_customers_ordering",
    "SELECT count(DISTINCT o_custkey) AS n_distinct FROM orders",
)
def distinct_customers_ordering_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").alias("n_distinct")
    )


@register("approx_distinct_customers", None)
def approx_distinct_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approx-distinct (sketch internals differ engine-to-engine ->
    rows-only check; the exact twin above is the oracle-checked path)."""
    return read_table(spark, sf_dir, "orders").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("n_approx")
    )


@register(
    "monthly_activity_full_outer",
    """
WITH om AS (
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           count(*) AS n_orders
    FROM orders GROUP BY 1
),
sm AS (
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
           count(*) AS n_shipments
    FROM lineitem GROUP BY 1
)
SELECT coalesce(om.month, sm.month) AS month,
       om.n_orders AS n_orders,
       sm.n_shipments AS n_shipments
FROM om FULL OUTER JOIN sm ON om.month = sm.month
""",
)
def monthly_activity_full_outer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order months FULL OUTER shipment months — the one join type the
    registry lacked. Genuinely unmatched rows exist on the shipment
    side (l_shipdate runs up to ~4 months past the last o_orderdate),
    so the NULL-preserving semantics are actually exercised. Both
    inputs are month-cardinality aggregates, so the outer join runs on
    bounded data after two keyed shuffles."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    om = orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(F.count("*").alias("n_orders"))
    sm = li.groupBy(
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("month")
    ).agg(F.count("*").alias("n_shipments"))
    return om.join(sm, "month", "full_outer").select("month", "n_orders", "n_shipments")


@register(
    "part_unpivot",
    """
SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
""",
)
def part_unpivot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "part").selectExpr(
        "p_partkey",
        "stack(2, 'size', CAST(p_size AS DOUBLE), 'retailprice', p_retailprice) AS (metric, value)",
    )


@register(
    "grouping_sets_lang_source",
    """
SELECT COALESCE(lang, 'ALL') AS lang_g, COALESCE(source, 'ALL') AS source_g,
       count(*) AS n_docs
FROM documents GROUP BY GROUPING SETS ((lang), (source))
""",
)
def grouping_sets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the spark.sql() surface."""
    _docs(spark, sf_dir).createOrReplaceTempView("documents_v")
    return spark.sql(
        """
        SELECT COALESCE(lang, 'ALL') AS lang_g, COALESCE(source, 'ALL') AS source_g,
               count(*) AS n_docs
        FROM documents_v GROUP BY GROUPING SETS ((lang), (source))
        """
    )


@register(
    "fuzzy_source_match",
    """
WITH s AS (SELECT DISTINCT source FROM documents)
SELECT a.source AS a_source, b.source AS b_source,
       CAST(levenshtein(a.source, b.source) AS INT) AS edit_dist
FROM s a, s b
WHERE a.source < b.source AND levenshtein(a.source, b.source) <= 2
""",
)
def fuzzy_source_match_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance pairs over distinct sources, length-blocked.

    Lossless blocking: levenshtein(a, b) >= |len(a) - len(b)|, so any
    pair within distance 2 is within 2 in length. One side explodes to
    length keys len-2..len+2, the other keys by exact length — an
    equi-join (each pair meets on exactly one key), never a cross join
    over the distinct-source set."""
    s = _docs(spark, sf_dir).select("source").distinct()
    a = s.select(
        F.col("source").alias("a_source"),
        F.explode(
            F.sequence(F.length("source") - 2, F.length("source") + 2)
        ).alias("lkey"),
    )
    b = s.select(F.col("source").alias("b_source"), F.length("source").alias("lkey"))
    return (
        a.join(b, "lkey")
        .where(F.col("a_source") < F.col("b_source"))
        .select(
            "a_source",
            "b_source",
            F.levenshtein(F.col("a_source"), F.col("b_source")).cast("int").alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= 2)
    )


# ---------------------------------------------------------------------------
# More relational shapes: Q6-style filter-agg, Q4-style EXISTS,
# correlated-average comparison
# ---------------------------------------------------------------------------


@register(
    "tpch_q6",
    """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * F.col("l_discount").cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "late_shipment_orders",
    """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
)
GROUP BY o_orderpriority
""",
)
def late_shipment_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS as a conditional left-semi join."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    semi = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@register(
    "above_avg_customers",
    """
WITH nation_avg AS (
    SELECT c_nationkey, avg(c_acctbal) AS navg FROM customer GROUP BY c_nationkey
)
SELECT c.c_custkey, round(c.c_acctbal, 2) AS acctbal,
       round(n.navg, 6) AS nation_avg
FROM customer c JOIN nation_avg n USING (c_nationkey)
WHERE c.c_acctbal > n.navg
""",
)
def above_avg_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-average comparison, decorrelated as agg + broadcast
    join (what Catalyst does to the EXISTS/IN subquery form anyway)."""
    cust = read_table(spark, sf_dir, "customer")
    nation_avg = cust.groupBy("c_nationkey").agg(F.avg("c_acctbal").alias("navg"))
    return (
        cust.join(F.broadcast(nation_avg), "c_nationkey")
        .where(F.col("c_acctbal") > F.col("navg"))
        .select(
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.round("navg", 6).alias("nation_avg"),
        )
    )


@register(
    "richest_customer_per_nation",
    """
SELECT c_nationkey, c_custkey AS richest_custkey,
       round(c_acctbal, 2) AS max_acctbal
FROM (
    SELECT *, row_number() OVER (PARTITION BY c_nationkey
        ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
    FROM customer
) WHERE rn = 1
""",
)
def richest_customer_per_nation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max with a deterministic (balance, key) tie-break."""
    cust = read_table(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.expr("max_by(c_custkey, struct(c_acctbal, c_custkey))").alias("richest_custkey"),
        F.round(F.max("c_acctbal"), 2).alias("max_acctbal"),
    )


@register(
    "langs_per_source",
    """
SELECT source, to_json(list_sort(list(DISTINCT lang))) AS langs
FROM documents GROUP BY source
""",
)
def langs_per_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # langs is serialized to JSON on both sides: the driver's pandas
    # canonicalizer can't hash a raw array<string> column (same fix as
    # rag_ingest / sim_ivf_centroids). The array-valued form stays
    # available to library consumers via textstats.langs_per_source —
    # serialization here is a driver-facing canonicalization only.
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        langs_per_source,
    )

    return langs_per_source(_docs(spark, sf_dir)).select(
        "source", F.to_json("langs").alias("langs")
    )


_SQL_REV = (
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * "
    "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)"
)


@register(
    "tpch_q10",
    f"""
SELECT c_custkey, c_name, c_acctbal, n_name, revenue FROM (
    SELECT c_custkey, c_name, c_acctbal, n_name, {_SQL_REV} AS revenue
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY 1, 2, 3, 4
) ORDER BY revenue DESC, c_custkey LIMIT 20
""",
)
def tpch_q10_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.relational import (
        returned_item_customers,
    )

    return returned_item_customers(
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "lineitem"),
        read_table(spark, sf_dir, "nation"),
    )


@register(
    "tpch_q14",
    """
SELECT CAST(round(100.0 * sum(CASE WHEN p_type = 'PROMO'
           THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
           ELSE CAST(0 AS DECIMAL(18,4)) END)
       / sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 6) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
""",
)
def tpch_q14_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.relational import (
        promo_revenue_ratio,
    )

    return promo_revenue_ratio(
        read_table(spark, sf_dir, "lineitem"), read_table(spark, sf_dir, "part")
    )


@register(
    "tpch_q19",
    f"""
SELECT {_SQL_REV} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20)
""",
)
def tpch_q19_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calculate_file_content_size_for_vector_db_spark.operators.relational import (
        disjunctive_part_revenue,
    )

    return disjunctive_part_revenue(
        read_table(spark, sf_dir, "lineitem"), read_table(spark, sf_dir, "part")
    )


@register(
    "tpch_q7",
    f"""
SELECT supp_nation, cust_nation, l_year, {_SQL_REV} AS revenue
FROM (
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           l_extendedprice, l_discount
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ns ON ns.n_nationkey = s_nationkey
    JOIN nation nc ON nc.n_nationkey = c_nationkey
    WHERE ns.n_name < nc.n_name
)
GROUP BY supp_nation, cust_nation, l_year
""",
)
def tpch_q7_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape generalized to every nation pair: cross-border
    shipping volume by (supplier nation, customer nation, year). Two
    broadcast nation joins on different keys; the fact chain shuffles
    once for the final group."""
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(ns), F.col("ns_key") == F.col("s_nationkey"))
        .join(F.broadcast(nc), F.col("nc_key") == F.col("c_nationkey"))
        .where(F.col("supp_nation") < F.col("cust_nation"))
    )
    rev = (
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
            ),
            2,
        )
        .cast("double")
        .alias("revenue")
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
    ).agg(rev)


@register(
    "tpch_q18",
    """
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_totalprice,
       round(total_qty, 6) AS total_qty
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN (
    SELECT l_orderkey, sum(l_quantity) AS total_qty
    FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 200
) big ON big.l_orderkey = o_orderkey
""",
)
def tpch_q18_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders — a grouped HAVING
    pre-aggregation of the fact table joined back to its dimensions.
    The aggregation shrinks the fact side BEFORE the joins, so the
    join input is orders-above-threshold, not all lineitems."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 200)
    )
    return (
        orders.join(big, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            F.round("total_qty", 6).alias("total_qty"),
        )
    )


_PRICE_BANDS = [
    ("budget", 0.0, 50_000.0),
    ("standard", 50_000.0, 150_000.0),
    ("premium", 150_000.0, 300_000.0),
    ("luxury", 300_000.0, 1e18),
]


@register(
    "orders_price_band_join",
    "WITH bands(band, lo, hi) AS (VALUES "
    + ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _PRICE_BANDS)
    + """)
SELECT b.band, count(*) AS n_orders,
       CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM orders o JOIN bands b
  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
GROUP BY b.band
""",
)
def orders_price_band_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join against a band dimension: the fact side streams, the
    tiny band table broadcasts, and the inequality predicate evaluates
    in the broadcast nested-loop — the standard banding shape (each
    fact row matches exactly one band, so output stays linear). At a
    100 TB fact table this is a narrow scan + one agg shuffle; a
    non-broadcastable range join would instead want bucketed range
    partitioning."""
    orders = read_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(_PRICE_BANDS, "band string, lo double, hi double")
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "bucketed_join_revenue",
    """
SELECT c_mktsegment,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS rev
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c_mktsegment
""",
)
def bucketed_join_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact-fact join via bucketed tables: both sides are
    written bucketBy(8) + sortBy on the join key, so the sort-merge
    join needs ZERO exchange — the pre-partitioning pattern for joins
    repeated across a 100 TB pipeline (amortize one shuffle at write
    time, join shuffle-free forever after). The oracle checks values
    against the plain join; tests/test_bucketing.py pins the no-shuffle
    plan."""
    import shutil

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    try:
        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix(
            "file:"
        )
        for tbl in ("orders_rb", "customer_rb"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)
        orders.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy(
            "o_custkey"
        ).saveAsTable("orders_rb")
        customer.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy(
            "o_custkey"
        ).saveAsTable("customer_rb")
        left = spark.table("orders_rb").hint("merge")
        right = spark.table("customer_rb")
    except Exception:  # noqa: BLE001 — unwritable warehouse: same values, plain join
        left, right = orders, customer
    return (
        left.join(right, "o_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("rev")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H completion: the 12 query shapes not yet covered (q2, q8, q9,
# q11, q12, q13, q15, q16, q17, q20, q21, q22), adapted to the fixture
# schema where TPC-H columns don't exist (no partsupp table, no
# l_commitdate/l_receiptdate/l_shipmode, no c_phone): part-supplier
# economics derive from lineitem, "late" predicates from shipdate, and
# q22's phone-prefix grouping becomes nation grouping. Together with
# q1/q3/q5/q6/q7/q10/q14/q18/q19 and late_shipment_orders (the q4
# EXISTS shape), all 22 TPC-H query shapes are registered.
# ---------------------------------------------------------------------------


def _d184(c):
    """DECIMAL(18,4) operand for exact cross-engine revenue sums."""
    return F.col(c).cast("decimal(18,4)")


@register(
    "tpch_q2",
    """
WITH unit AS (
    SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS cost
    FROM lineitem GROUP BY l_partkey, l_suppkey
),
eligible AS (
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name, cost
    FROM unit
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE p_type = 'SMALL' AND r_name = 'EUROPE'
),
ranked AS (
    SELECT *, min(cost) OVER (PARTITION BY p_partkey) AS min_cost FROM eligible
)
SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey, p_name,
       round(cost, 6) AS unit_cost
FROM ranked WHERE cost = min_cost
""",
)
def tpch_q2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part within a region.
    The partsupp table doesn't exist in the fixtures, so unit cost is
    derived from lineitem (min observed extendedprice/quantity per
    part-supplier pair) — same correlated-min query shape. The min is
    decorrelated as a window over the already-filtered eligible set, so
    the heavy lineitem aggregation happens once; part/supplier/nation/
    region are all broadcast. Ties at the min keep every tied supplier,
    as in TPC-H."""
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").where(F.col("p_type") == "SMALL")
    sup = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost")
    )
    eligible = (
        unit.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
    )
    ranked = eligible.withColumn(
        "min_cost", F.min("cost").over(Window.partitionBy("p_partkey"))
    )
    return ranked.where(F.col("cost") == F.col("min_cost")).select(
        F.round("s_acctbal", 2).alias("s_acctbal"),
        "s_name",
        "n_name",
        "p_partkey",
        "p_name",
        F.round("cost", 6).alias("unit_cost"),
    )


@register(
    "tpch_q8",
    """
WITH flat AS (
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS volume,
           ns.n_name AS supp_nation
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation nc ON nc.n_nationkey = c_nationkey
    JOIN region r ON r.r_regionkey = nc.n_regionkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ns ON ns.n_nationkey = s_nationkey
    WHERE p_type = 'PROMO' AND r.r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM flat GROUP BY o_year
""",
)
def tpch_q8_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): one nation's fraction of
    yearly revenue for a part type sold into a region. Star-join chain
    with every dimension broadcast; the only shuffle is the final
    2-group aggregation. The share is a conditional-sum over the same
    rows, so one pass computes numerator and denominator."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = read_table(spark, sf_dir, "customer")
    sup = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    volume = (_d184("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _d184("l_discount"))).alias(
        "volume"
    )
    flat = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nc), F.col("nc_key") == F.col("c_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("nc_region"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(ns), F.col("ns_key") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"), volume, "supp_nation"
        )
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return flat.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(zero)).cast(
                "double"
            )
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share")
    )


@register(
    "tpch_q9",
    """
WITH flat AS (
    SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year,
           CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
             - CAST(p_retailprice AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4)) * CAST(0.1 AS DECIMAL(18,4)) AS amount
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%widget%'
)
SELECT nation, o_year, CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
FROM flat GROUP BY nation, o_year
""",
)
def tpch_q9_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit by nation and year). The fixture
    has no partsupp.ps_supplycost, so cost is proxied as 10% of
    p_retailprice per unit — the query shape (substring part filter,
    profit expression, two-key group) is unchanged. All decimal
    arithmetic so the cross-engine sums are exact."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    sup = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    amount = (
        _d184("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _d184("l_discount"))
        - _d184("p_retailprice") * _d184("l_quantity") * F.lit(0.1).cast("decimal(18,4)")
    ).alias("amount")
    flat = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
            amount,
        )
    )
    return flat.groupBy("nation", "o_year").agg(
        F.round(F.sum("amount"), 2).cast("double").alias("sum_profit")
    )


@register(
    "tpch_q11",
    """
WITH value_t AS (
    SELECT l_partkey,
           sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS val
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
    GROUP BY l_partkey
)
SELECT l_partkey, CAST(round(val, 2) AS DOUBLE) AS part_value
FROM value_t
WHERE CAST(val AS DOUBLE) > 0.001 * (SELECT CAST(sum(val) AS DOUBLE) FROM value_t)
""",
)
def tpch_q11_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): per-part value restricted to one
    region's suppliers, kept only when above a fraction of the grand
    total — the grand total is a scalar subquery over the SAME
    aggregate. The per-part aggregate is computed once and reused for
    both branches (persist), with the 1-row total broadcast back — no
    second scan of lineitem and no shuffle for the filter."""
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    value_t = cached(
        li.join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_d184("l_extendedprice")).alias("val"))
    )
    total = value_t.agg(F.sum("val").cast("double").alias("grand_total"))
    return (
        value_t.crossJoin(F.broadcast(total))
        .where(F.col("val").cast("double") > 0.001 * F.col("grand_total"))
        .select("l_partkey", F.round("val", 2).cast("double").alias("part_value"))
    )


@register(
    "tpch_q12",
    """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
""",
)
def tpch_q12_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes vs priority): the fixture has no
    l_shipmode, so l_returnflag is the grouping dimension. The point of
    the shape survives: fact-to-fact join with the date filter pushed
    into the lineitem scan, then conditional counts in one pass."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = read_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "tpch_q4",
    """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""",
)
def tpch_q4_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking), completing the
    q1-q22 set: orders from one quarter counted per priority when at
    least one of their lineitems was LATE. The fixture has no
    l_commitdate/l_receiptdate, so late = shipped more than 60 days
    after the order date — the correlated-EXISTS shape survives
    exactly: a LEFT SEMI join on the order key with the lateness
    predicate inside the join condition (each order counted once no
    matter how many late lines), date filter pushed into the orders
    scan, then a tiny priority-keyed count."""
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    li = read_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("order_count")
    )


@register(
    "tpch_q13",
    """
WITH per_cust AS (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders
      ON o_custkey = c_custkey AND o_orderpriority <> '5-LOW'
    GROUP BY c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
""",
)
def tpch_q13_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): left outer join
    with the extra predicate INSIDE the join condition (customers with
    zero qualifying orders must survive with count 0), then a
    distribution-of-counts double aggregation. count(o_orderkey) counts
    non-null matches only — the left-join NULL row contributes 0."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderpriority") != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").cast("bigint").alias("custdist"))


@register(
    "tpch_q15",
    """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(round(total_revenue, 2) AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
)
def tpch_q15_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): quarterly revenue view, max-revenue
    scalar subquery, equality join back — ties all survive. The
    revenue aggregate is persisted and reused for both the max and the
    filter; decimal sums make the cross-engine equality exact (a
    floating-point == here would be flaky)."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    sup = read_table(spark, sf_dir, "supplier")
    revenue = cached(
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                _d184("l_extendedprice")
                * (F.lit(1).cast("decimal(18,4)") - _d184("l_discount"))
            ).alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_revenue", 2).cast("double").alias("total_revenue"),
        )
    )


@register(
    "tpch_q16",
    """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
)
def tpch_q16_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (supplier count by part attributes): the part-supplier
    relation comes from lineitem (no partsupp in the fixtures), the
    complaints exclusion becomes negative-balance suppliers. NOT IN is
    a broadcast anti-join (the excluded set is tiny); the distinct
    count shuffles once on the group keys."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    bad_sup = read_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad_sup), F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@register(
    "tpch_q17",
    """
WITH avg_qty AS (
    SELECT l_partkey AS ap_key, 0.2 * avg(l_quantity) AS qty_threshold
    FROM lineitem GROUP BY l_partkey
)
SELECT CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 2) AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN avg_qty ON ap_key = l_partkey
WHERE p_brand = 'Brand#5' AND l_quantity < qty_threshold
""",
)
def tpch_q17_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity revenue): the correlated per-part
    average-quantity subquery, decorrelated as an aggregate joined back
    on the part key — exactly what Catalyst's subquery rewrite does.
    Quantities are integer-valued doubles so the avg is exact across
    engines; the revenue sum is decimal, converted to double before the
    final /7 so both engines do the identical IEEE division."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#5")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(avg_qty, F.col("ap_key") == F.col("l_partkey"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum(_d184("l_extendedprice")).cast("double") / 7.0, 2)
            .cast("double")
            .alias("avg_yearly")
        )
    )


@register(
    "tpch_q20",
    """
WITH shipped AS (
    SELECT l_suppkey AS sk, sum(l_quantity) AS qty
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE 'small%'
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_name, n_name, round(qty, 6) AS shipped_qty
FROM supplier
JOIN shipped ON sk = s_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE qty > 1.5 * (SELECT avg(qty) FROM shipped)
""",
)
def tpch_q20_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with excess stock of a part subset):
    partsupp.ps_availqty doesn't exist, so "stock" is the quantity
    actually shipped of name-filtered parts in the window, and the
    threshold is 1.5x the cross-supplier average (a scalar over the
    same aggregate, broadcast back). Same nested-aggregate + semi-join
    shape; quantity sums are integer-valued doubles, exact in both
    engines."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    part = read_table(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    sup = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    shipped = cached(
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("l_suppkey").alias("sk"))
        .agg(F.sum("l_quantity").alias("qty"))
    )
    avg_qty = shipped.agg(F.avg("qty").alias("avg_qty"))
    return (
        shipped.crossJoin(F.broadcast(avg_qty))
        .where(F.col("qty") > 1.5 * F.col("avg_qty"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("sk"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_name", "n_name", F.round("qty", 6).alias("shipped_qty"))
    )


@register(
    "tpch_q21",
    """
WITH l1 AS (
    SELECT l_orderkey, l_suppkey FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_returnflag = 'R' AND o_orderstatus = 'F'
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM l1
JOIN supplier ON s_suppkey = l_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
)
AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
)
GROUP BY s_name
""",
)
def tpch_q21_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): R-flagged
    lines in finished multi-supplier orders where no OTHER supplier
    also flagged R. The EXISTS / NOT EXISTS pair is computed as ONE
    per-order aggregate (distinct suppliers, distinct R-suppliers)
    joined back — two self-semi-joins collapse into a single shuffle
    of lineitem. l1's supplier is R, so "no other R supplier" is
    exactly n_r_supp == 1, and "another supplier exists" is
    n_supp > 1."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    sup = read_table(spark, sf_dir, "supplier")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_r_supp"),
    )
    l1 = li.where(F.col("l_returnflag") == "R").join(
        orders, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    )
    return (
        l1.join(per_order, "l_orderkey")
        .where((F.col("n_supp") > 1) & (F.col("n_r_supp") == 1))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
    )


@register(
    "tpch_q22",
    """
WITH avg_bal AS (
    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS ab
    FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT ab FROM avg_bal)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_nationkey
""",
)
def tpch_q22_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales opportunity): above-average-balance
    customers with no recent orders, grouped by nation (the fixture has
    no c_phone for prefix grouping; every fixture customer has SOME
    order, so the anti-join is against orders since 2000 to stay
    non-trivial). The global average is an exact decimal sum divided
    once as a double; the NOT EXISTS is a broadcast anti-join against
    the date-filtered order keys."""
    cust = read_table(spark, sf_dir, "customer")
    recent = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        (F.sum(_d184("c_acctbal")).cast("double") / F.count("*")).alias("ab")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.round(F.sum(_d184("c_acctbal")), 2).cast("double").alias("totacctbal"),
        )
    )
