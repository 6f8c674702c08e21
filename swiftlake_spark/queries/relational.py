"""Relational query surface over the TPC-H-ish star schema.

Covers SURVEY.md §2.B rows: scan/filter predicates, joins (inner, outer,
semi, anti, cross, null-safe), aggregation (+HAVING, ROLLUP, DISTINCT),
windows (ranking + analytics + frames), sort/limit/top-k, set ops,
CTE/subqueries, scalar/string/datetime functions, nested types, NaN/NULL
semantics.  Reference evidence for each shape is cited in SURVEY.md §2.B
(the reference executes these in DuckDB post-rewrite;
core/src/test/java/com/arcesium/swiftlake/SwiftLakeEngineIntegrationTest.java:305-560).

Implementations are DataFrame-first so Catalyst handles pushdown and join
strategy; at 100 TB the same plans hold: small dims (region/nation/
supplier) broadcast, big joins (orders⋈lineitem) shuffle on their keys
with AQE skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from swiftlake_spark.queries import query
from swiftlake_spark.queries.base import as_double, dec, load


# --------------------------------------------------------------------------
# q01 — TPC-H Q1 pricing summary: scan + filter pushdown + hash agg + sort.
# --------------------------------------------------------------------------
@query(
    "q01_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)      AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)      AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast("decimal(28,6)")
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            as_double(F.sum(dec("l_quantity"))).alias("sum_qty"),
            as_double(F.sum(dec("l_extendedprice"))).alias("sum_base_price"),
            as_double(F.sum(disc_price)).alias("sum_disc_price"),
            as_double(F.sum(charge)).alias("sum_charge"),
            (as_double(F.sum(dec("l_quantity"))) / n).alias("avg_qty"),
            (as_double(F.sum(dec("l_extendedprice"))) / n).alias("avg_price"),
            (as_double(F.sum(dec("l_discount"))) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# q02 — predicate surface: =, <, BETWEEN, IN, LIKE, IS NOT NULL, boolean mix.
# Reference: SqlQueryProcessor.java:614-780 pushdown grammar.
# --------------------------------------------------------------------------
@query(
    "q02_filter_predicates",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderstatus IN ('O', 'F')
  AND o_totalprice BETWEEN 1000.0 AND 150000.0
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderpriority LIKE '%URGENT%'
  AND o_custkey IS NOT NULL
  AND NOT (o_orderkey % 10 = 7)
ORDER BY o_orderkey
""",
)
def q02_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus").isin("O", "F"))
        .filter(F.col("o_totalprice").between(1000.0, 150000.0))
        .filter(F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        .filter(F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        .filter(F.col("o_orderpriority").like("%URGENT%"))
        .filter(F.col("o_custkey").isNotNull())
        .filter(~(F.col("o_orderkey") % 10 == 7))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# q03 — multi-way join + agg + top-k (TPC-H Q3 shape).  customer is small →
# broadcast; orders⋈lineitem shuffles on the join key.
# --------------------------------------------------------------------------
@query(
    "q03_shipping_priority",
    oracle="""
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(as_double(F.sum(revenue)).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q04 — semi join (EXISTS).  Reference shape: IN-subquery tests
# SwiftLakeEngineIntegrationTest.java:353-367.
# --------------------------------------------------------------------------
@query(
    "q04_semi_join",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45.0
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q04_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45.0)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q05 — anti join (NOT EXISTS): customers with no URGENT order.  The probe
# side is filtered before the anti join so the shape returns a non-empty
# remainder on the fixtures (every customer has *some* order there).
# Reference shape: SwiftLakeEngineIntegrationTest.java:353-367 (NOT IN /
# anti-join subquery).
# --------------------------------------------------------------------------
@query(
    "q05_anti_join",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def q05_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# q06 — left outer join with NULL-aware aggregation.
# --------------------------------------------------------------------------
@query(
    "q06_left_outer_join",
    oracle="""
SELECT c_custkey, c_mktsegment,
       COUNT(o_orderkey) AS n_orders,
       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
FROM customer
LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey, c_mktsegment
ORDER BY c_custkey
""",
)
def q06_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            as_double(F.coalesce(F.sum(dec("o_totalprice")), F.lit(0))).alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# q07 — full outer join on a null-safe key (<=> ≙ IS NOT DISTINCT FROM).
# Reference: null-safe key matching in all merges (common.xml:8-18).
# --------------------------------------------------------------------------
@query(
    "q07_full_outer_nullsafe",
    oracle="""
WITH ca AS (
  SELECT NULLIF(c_nationkey % 7, 3) AS k, COUNT(*) AS c_cnt
  FROM customer GROUP BY NULLIF(c_nationkey % 7, 3)
), sa AS (
  SELECT NULLIF(s_nationkey % 7, 3) AS k, COUNT(*) AS s_cnt
  FROM supplier GROUP BY NULLIF(s_nationkey % 7, 3)
)
SELECT COALESCE(ca.k, sa.k) AS k,
       COALESCE(c_cnt, 0) AS c_cnt,
       COALESCE(s_cnt, 0) AS s_cnt,
       (ca.k IS NOT DISTINCT FROM sa.k) AS both_present
FROM ca FULL OUTER JOIN sa ON ca.k IS NOT DISTINCT FROM sa.k
ORDER BY k NULLS FIRST
""",
)
def q07_full_outer_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    ca = c.groupBy(F.nullif(F.col("c_nationkey") % 7, F.lit(3)).alias("k")).agg(
        F.count(F.lit(1)).alias("c_cnt")
    )
    sa = s.groupBy(F.nullif(F.col("s_nationkey") % 7, F.lit(3)).alias("k")).agg(
        F.count(F.lit(1)).alias("s_cnt")
    )
    joined = ca.alias("ca").join(sa.alias("sa"), F.col("ca.k").eqNullSafe(F.col("sa.k")), "full")
    return joined.select(
        F.coalesce(F.col("ca.k"), F.col("sa.k")).alias("k"),
        F.coalesce(F.col("c_cnt"), F.lit(0)).alias("c_cnt"),
        F.coalesce(F.col("s_cnt"), F.lit(0)).alias("s_cnt"),
        F.col("ca.k").eqNullSafe(F.col("sa.k")).alias("both_present"),
    ).orderBy(F.col("k").asc_nulls_first())


# --------------------------------------------------------------------------
# q08 — ranking window: top-3 orders per market segment.
# Reference: ROW_NUMBER OVER tests SwiftLakeEngineIntegrationTest.java:471-530.
# --------------------------------------------------------------------------
@query(
    "q08_window_topk_per_group",
    oracle="""
SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders JOIN customer ON c_custkey = o_custkey
) t WHERE rn <= 3
ORDER BY c_mktsegment, rn
""",
)
def q08_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rn")
        .orderBy("c_mktsegment", "rn")
    )


# --------------------------------------------------------------------------
# q09 — analytic windows: lag/lead/rank/dense_rank + running sum over a
# frame.  Running sums go through DECIMAL so the fold is exact.
# --------------------------------------------------------------------------
@query(
    "q09_window_analytics",
    oracle="""
SELECT event_id, user_id, value,
       LAG(event_type)  OVER w AS prev_type,
       LEAD(event_type) OVER w AS next_type,
       RANK()       OVER (PARTITION BY user_id ORDER BY value DESC) AS value_rank,
       DENSE_RANK() OVER (PARTITION BY user_id ORDER BY event_type) AS type_drank,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
FROM events
WHERE user_id % 10 = 0
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
""",
)
def q09_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrank = W.partitionBy("user_id").orderBy(F.col("value").desc())
    wtype = W.partitionBy("user_id").orderBy("event_type")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        e.select(
            "event_id",
            "user_id",
            "value",
            F.lag("event_type").over(w).alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
            F.rank().over(wrank).alias("value_rank"),
            F.dense_rank().over(wtype).alias("type_drank"),
            as_double(F.sum(dec("value", 28, 6)).over(run)).alias("running_value"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# q10 — set operations: UNION (distinct), INTERSECT, EXCEPT.
# Reference: UNION ALL BY NAME SchemaEvolution.java:216; UNION
# partitioned_data.xml:21-23.
# --------------------------------------------------------------------------
@query(
    "q10_set_ops",
    oracle="""
WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
     sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
SELECT nk, 'union' AS op FROM (SELECT nk FROM cn UNION SELECT nk FROM sn)
UNION ALL
SELECT nk, 'intersect' AS op FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
UNION ALL
SELECT nk, 'except' AS op FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)
ORDER BY op, nk
""",
)
def q10_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    sn = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk")).distinct()
    u = cn.union(sn).distinct().withColumn("op", F.lit("union"))
    i = cn.intersect(sn).withColumn("op", F.lit("intersect"))
    x = cn.exceptAll(sn).distinct().withColumn("op", F.lit("except"))
    return u.unionByName(i).unionByName(x).orderBy("op", "nk")


# --------------------------------------------------------------------------
# q11 — CTE + IN-subquery + derived-table join (parts priced above the
# average for their type).  Reference: CTE tests
# SwiftLakeEngineIntegrationTest.java:531-560.
# --------------------------------------------------------------------------
@query(
    "q11_cte_subquery",
    oracle="""
WITH type_avg AS (
  SELECT p_type,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
  FROM part GROUP BY p_type
)
SELECT p.p_partkey, p.p_type, p.p_retailprice, t.avg_price
FROM part p
JOIN type_avg t ON p.p_type = t.p_type
WHERE p.p_retailprice > t.avg_price
  AND p.p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 30.0)
ORDER BY p.p_partkey
""",
)
def q11_cte_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 30.0)
    type_avg = p.groupBy("p_type").agg(
        (as_double(F.sum(dec("p_retailprice"))) / F.count(F.lit(1))).alias("avg_price")
    )
    return (
        p.join(F.broadcast(type_avg), "p_type")
        .filter(F.col("p_retailprice") > F.col("avg_price"))
        .join(li.select(F.col("l_partkey").alias("p_partkey")).distinct(), "p_partkey", "left_semi")
        .select("p_partkey", "p_type", "p_retailprice", "avg_price")
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# q12 — ROLLUP grouping sets with GROUPING_ID.
# --------------------------------------------------------------------------
@query(
    "q12_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS gid
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def q12_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # r14 (guide §2.3 "aggregate before you shuffle"): rollup/cube plans
    # put Expand BELOW the aggregate, so every input row is replicated
    # once per grouping set (3x here) before the partial agg hashes it.
    # Pre-aggregating at the finest granularity first (one ordinary
    # shuffle with map-side combine, ≤6 rows out) and rolling up the
    # tiny pre-aggregate is exact: decimal sums are associative, counts
    # re-sum, and GROUPING() semantics are unchanged (a NULL data value
    # stays a regular group in both shapes).  Expand now runs over ≤6
    # rows instead of 600k (plans/r14/q12_rollup_{before,after}.txt).
    pre = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        pre.rollup("l_returnflag", "l_linestatus")
        .agg(
            as_double(F.sum("__s")).alias("sum_qty"),
            F.sum("__n").alias("n"),
            (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
            .cast("int")
            .alias("gid"),
        )
        .orderBy(
            F.col("gid"),
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# q13 — SELECT DISTINCT (reference: common.xml:62-69 distinct-values helper).
# --------------------------------------------------------------------------
@query(
    "q13_distinct",
    oracle="""
SELECT DISTINCT l_returnflag, l_linestatus
FROM lineitem
ORDER BY l_returnflag, l_linestatus
""",
)
def q13_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# q14 — scalar functions: CASE WHEN, COALESCE, NULLIF, ABS, arithmetic.
# Reference: scd1_merge.xml:155-170 uses exactly these.
# --------------------------------------------------------------------------
@query(
    "q14_case_scalar",
    oracle="""
SELECT price_bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(ABS(o_totalprice - 100000.0) AS DECIMAL(28,6))) AS DOUBLE) AS sum_abs_dev,
       CAST(SUM(CAST(COALESCE(NULLIF(o_orderstatus, 'P'), 'X') = 'X' AS INTEGER)) AS BIGINT) AS n_pending
FROM (
  SELECT o_totalprice, o_orderstatus,
         CASE WHEN o_totalprice < 50000.0  THEN 'low'
              WHEN o_totalprice < 150000.0 THEN 'mid'
              ELSE 'high' END AS price_bucket
  FROM orders
) t
GROUP BY price_bucket
ORDER BY price_bucket
""",
)
def q14_case_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000.0, "low")
        .when(F.col("o_totalprice") < 150000.0, "mid")
        .otherwise("high")
    )
    pending = (
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("X")) == "X"
    ).cast("int")
    return (
        o.withColumn("price_bucket", bucket)
        .groupBy("price_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            as_double(F.sum(F.abs(F.col("o_totalprice") - 100000.0).cast("decimal(28,6)"))).alias(
                "sum_abs_dev"
            ),
            F.sum(pending).cast("bigint").alias("n_pending"),
        )
        .orderBy("price_bucket")
    )


# --------------------------------------------------------------------------
# q15 — string functions: UPPER/LOWER, SUBSTRING, LENGTH, CONCAT, TRIM,
# REPLACE, LIKE.  Reference passes the DuckDB string lib through
# (README.md:723-727); these are the ANSI-stable core.
# --------------------------------------------------------------------------
@query(
    "q15_string_funcs",
    oracle="""
SELECT p_partkey,
       UPPER(p_brand)                         AS brand_u,
       LOWER(p_type)                          AS type_l,
       SUBSTRING(p_name, 1, 8)                AS name_prefix,
       CAST(LENGTH(p_name) AS INTEGER)        AS name_len,
       CONCAT(p_brand, ':', p_type)           AS brand_type,
       REPLACE(p_type, ' ', '_')              AS type_snake,
       TRIM(CONCAT(' ', p_brand, ' '))        AS brand_trim,
       (p_name LIKE '%ol%')                   AS has_ol
FROM part
WHERE p_partkey <= 100
ORDER BY p_partkey
""",
)
def q15_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("int").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.trim(F.concat(F.lit(" "), F.col("p_brand"), F.lit(" "))).alias("brand_trim"),
        F.col("p_name").like("%ol%").alias("has_ol"),
    ).orderBy("p_partkey")


# --------------------------------------------------------------------------
# q16 — datetime functions: EXTRACT parts, date_trunc, interval arithmetic.
# Reference: date/time literal + micros handling SqlQueryProcessor.java:1072-1170.
# --------------------------------------------------------------------------
@query(
    "q16_datetime",
    oracle="""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER)  AS yr,
       CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS mon,
       COUNT(*) AS n_orders,
       MIN(CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP)) AS month_start,
       MAX(o_orderdate + INTERVAL 30 DAY)    AS max_plus_30d,
       MIN(CAST(o_orderdate AS DATE))        AS min_day
FROM orders
GROUP BY EXTRACT(year FROM o_orderdate), EXTRACT(month FROM o_orderdate)
ORDER BY yr, mon
""",
)
def q16_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mon"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(F.date_trunc("month", F.col("o_orderdate"))).alias("month_start"),
            F.max(F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("max_plus_30d"),
            F.min(F.col("o_orderdate").cast("date")).alias("min_day"),
        )
        .orderBy("yr", "mon")
    )


# --------------------------------------------------------------------------
# q17 — nested types: array build/sort/fold, struct build + field access.
# Reference: list/struct/map construction + comprehension rebuilds
# (SchemaEvolution.java:538-583); nested access SqlQueryProcessor.java:806-843.
# Scalars out, so the hash is representation-independent.
# --------------------------------------------------------------------------
@query(
    "q17_nested_types",
    oracle="""
WITH per_order AS (
  SELECT l_orderkey,
         LIST_SORT(LIST(CAST(l_quantity AS INTEGER))) AS qtys,
         {'flag': MIN(l_returnflag), 'status': MAX(l_linestatus)} AS meta
  FROM lineitem
  GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(LEN(qtys) AS INTEGER)            AS n_items,
       CAST(LIST_SUM(qtys) AS BIGINT)        AS qty_total,
       qtys[1]                               AS qty_min,
       qtys[-1]                              AS qty_max,
       meta.flag                             AS flag,
       meta.status                           AS status
FROM per_order
WHERE l_orderkey <= 200
ORDER BY l_orderkey
""",
)
def q17_nested_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.col("l_quantity").cast("int"))).alias("qtys"),
        F.struct(
            F.min("l_returnflag").alias("flag"), F.max("l_linestatus").alias("status")
        ).alias("meta"),
    )
    return (
        per_order.filter(F.col("l_orderkey") <= 200)
        .select(
            "l_orderkey",
            F.size("qtys").cast("int").alias("n_items"),
            F.aggregate("qtys", F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias(
                "qty_total"
            ),
            F.element_at("qtys", 1).alias("qty_min"),
            F.element_at("qtys", -1).alias("qty_max"),
            F.col("meta.flag").alias("flag"),
            F.col("meta.status").alias("status"),
        )
        .orderBy("l_orderkey")
    )


# --------------------------------------------------------------------------
# q18 — global top-k: ORDER BY … LIMIT (Spark TakeOrderedAndProject).
# --------------------------------------------------------------------------
@query(
    "q18_topk_global",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
)
def q18_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# q19 — GROUP BY + HAVING (reference: SwiftLakeEngineIntegrationTest.java:316-331).
# --------------------------------------------------------------------------
@query(
    "q19_having",
    oracle="""
SELECT c_nationkey, COUNT(*) AS n,
       CAST(MAX(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS max_bal
FROM customer
GROUP BY c_nationkey
HAVING COUNT(*) > 3
ORDER BY c_nationkey
""",
)
def q19_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            as_double(F.max(dec("c_acctbal"))).alias("max_bal"),
        )
        .filter(F.col("n") > 3)
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# q20 — cross join + theta filter (reference: ON (1=1) flag expansion,
# partitioned_data.xml:20-24).
# --------------------------------------------------------------------------
@query(
    "q20_cross_theta_join",
    oracle="""
SELECT r.r_regionkey, n.n_nationkey, r.r_name, n.n_name
FROM region r CROSS JOIN nation n
WHERE r.r_regionkey < n.n_regionkey
ORDER BY r.r_regionkey, n.n_nationkey
""",
)
def q20_cross_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return (
        r.crossJoin(n)
        .filter(F.col("r_regionkey") < F.col("n_regionkey"))
        .select("r_regionkey", "n_nationkey", "r_name", "n_name")
        .orderBy("r_regionkey", "n_nationkey")
    )


# --------------------------------------------------------------------------
# q21 — NaN / ±inf semantics: NaN sorts greatest, NaN==NaN in grouping,
# isnan; inf arithmetic.  Reference: Expressions.java:144-231 +
# SwiftLakeEngineIntegrationTest.java:162-238 (fp special values).
# Inline VALUES source (README.md:153-156).
# --------------------------------------------------------------------------
@query(
    "q21_float_special",
    oracle="""
WITH v(id, x) AS (VALUES
  (1, CAST(1.5 AS DOUBLE)), (2, CAST(-1.5 AS DOUBLE)), (3, CAST(0.0 AS DOUBLE)),
  (4, CAST('inf' AS DOUBLE)), (5, CAST('-inf' AS DOUBLE)), (6, CAST('nan' AS DOUBLE)),
  (7, CAST('nan' AS DOUBLE)), (8, NULL))
SELECT x,
       COUNT(*)   AS n,
       MIN(id)    AS min_id,
       BOOL_OR(COALESCE(ISNAN(x), FALSE))          AS any_nan,
       BOOL_OR(COALESCE(x = 'inf'::DOUBLE, FALSE)) AS any_posinf,
       BOOL_OR(COALESCE(ISNAN(x * 0.0), FALSE))    AS inf_times_zero_nan
FROM v
GROUP BY x
ORDER BY x NULLS FIRST
""",
)
def q21_float_special(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = spark.sql(
        """
        SELECT id, x FROM VALUES
          (1, CAST(1.5 AS DOUBLE)), (2, CAST(-1.5 AS DOUBLE)), (3, CAST(0.0 AS DOUBLE)),
          (4, CAST('inf' AS DOUBLE)), (5, CAST('-inf' AS DOUBLE)), (6, CAST('nan' AS DOUBLE)),
          (7, CAST('nan' AS DOUBLE)), (8, CAST(NULL AS DOUBLE)) AS v(id, x)
        """
    )
    return (
        v.groupBy("x")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("id").alias("min_id"),
            F.max(F.coalesce(F.isnan("x"), F.lit(False))).alias("any_nan"),
            F.max(F.coalesce(F.col("x") == F.lit(float("inf")), F.lit(False))).alias(
                "any_posinf"
            ),
            F.max(F.coalesce(F.isnan(F.col("x") * 0.0), F.lit(False))).alias(
                "inf_times_zero_nan"
            ),
        )
        .orderBy(F.col("x").asc_nulls_first())
    )


# --------------------------------------------------------------------------
# q22 — NULL three-valued logic + IS [NOT] DISTINCT FROM on literals.
# Reference semantics: SURVEY.md §2.C.1/3.
# --------------------------------------------------------------------------
@query(
    "q22_null_semantics",
    oracle="""
WITH v(id, a, b) AS (VALUES
  (1, 1, 1), (2, 1, 2), (3, 1, NULL), (4, NULL, NULL), (5, NULL, 2))
SELECT id, a, b,
       (a = b)                    AS eq,
       (a IS NOT DISTINCT FROM b) AS nseq,
       (a IS DISTINCT FROM b)     AS nsne,
       (a IS NULL)                AS a_null,
       COALESCE(a, b, -1)         AS first_non_null,
       (a IN (1, 2))              AS a_in,
       CASE WHEN a > b THEN 'gt' WHEN a <= b THEN 'le' ELSE 'unknown' END AS cmp3vl
FROM v
ORDER BY id
""",
)
def q22_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = spark.sql(
        "SELECT id, a, b FROM VALUES (1, 1, 1), (2, 1, 2), (3, 1, CAST(NULL AS INT)),"
        " (4, CAST(NULL AS INT), CAST(NULL AS INT)), (5, CAST(NULL AS INT), 2) AS v(id, a, b)"
    )
    a, b = F.col("a"), F.col("b")
    return v.select(
        "id",
        "a",
        "b",
        (a == b).alias("eq"),
        a.eqNullSafe(b).alias("nseq"),
        (~a.eqNullSafe(b)).alias("nsne"),
        a.isNull().alias("a_null"),
        F.coalesce(a, b, F.lit(-1)).alias("first_non_null"),
        a.isin(1, 2).alias("a_in"),
        F.when(a > b, "gt").when(a <= b, "le").otherwise("unknown").alias("cmp3vl"),
    ).orderBy("id")


# --------------------------------------------------------------------------
# q23 — pivot (DataFrame .pivot ≙ conditional aggregation in ANSI SQL).
# --------------------------------------------------------------------------
@query(
    "q23_pivot",
    oracle="""
SELECT l_returnflag,
       CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS qty_O,
       CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS qty_F
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q23_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(dec("l_quantity")))
    )
    return piv.select(
        "l_returnflag",
        as_double(F.coalesce(F.col("O"), F.lit(0))).alias("qty_O"),
        as_double(F.coalesce(F.col("F"), F.lit(0))).alias("qty_F"),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# q24 — CUBE grouping sets (beyond ROLLUP, q12).
# --------------------------------------------------------------------------
@query(
    "q24_cube",
    oracle="""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INTEGER) AS gid
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def q24_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    # r14: pre-aggregate before Expand (same rationale and equivalence
    # argument as q12_rollup — counts re-sum exactly); the 4-way cube
    # Expand runs over ~15 pre-aggregated rows instead of 150k.
    pre = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return (
        pre.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum("__n").alias("n"),
            (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
            .cast("int")
            .alias("gid"),
        )
        .orderBy(
            "gid",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# q25 — approximate distinct (HLL).  Sketch estimates are engine-specific,
# so the hash-compared columns are the EXACT distinct count plus a
# relative-error verdict each engine computes against its own sketch:
# |approx - exact| / exact <= 0.15 (3x the default ~5% HLL rsd).  Both
# engines must therefore (a) agree on the exact count and (b) have a
# sketch within the bound — a real oracle, not rows-only.
# --------------------------------------------------------------------------
@query(
    "q25_approx_distinct",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       -- integer arithmetic (100*|diff| <= 15*exact): the bound is
       -- exact on both engines even when it lands on an integer
       100 * abs(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))
         <= 15 * COUNT(DISTINCT l_partkey) AS approx_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q25_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14 (guide §2.3 "aggregate before you shuffle"): mixing COUNT(DISTINCT)
    # with a non-distinct aggregate (the HLL sketch) makes Spark Expand every
    # input row x2 (one projection per aggregate class) before the first
    # partial aggregate.  Pre-distincting the (flag, partkey) pairs removes
    # the Expand: the exact count becomes a plain COUNT over the distinct
    # pairs, and the HLL sketch is duplicate-insensitive (register updates
    # are max-idempotent), so approx_count_distinct over distinct values is
    # bit-identical to the sketch over the raw stream.  Verified value-equal
    # vs the old shape at sf0.1 and oracle-proven; 1.00 -> 0.70 s min-of-5.
    li = load(spark, sf_dir, "lineitem")
    pairs = li.select("l_returnflag", "l_partkey").distinct()
    # r15 (ADVICE r14): count the COLUMN, not lit(1) — COUNT(l_partkey)
    # skips NULLs exactly like the oracle's COUNT(DISTINCT l_partkey)
    # (and like the pre-r14 countDistinct), so a NULL partkey surviving
    # the distinct cannot inflate exact_parts.
    cnt = F.count("l_partkey")
    return (
        pairs.groupBy("l_returnflag")
        .agg(
            cnt.alias("exact_parts"),
            (
                F.abs(F.approx_count_distinct("l_partkey") - cnt) * 100
                <= cnt * 15
            ).alias("approx_ok"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# q26 — UNION ALL BY NAME: position-independent union (reference:
# SchemaEvolution.java:216 unions per-schema file groups BY NAME).
# --------------------------------------------------------------------------
@query(
    "q26_union_by_name",
    oracle="""
SELECT nk, src, COUNT(*) AS n FROM (
  SELECT c_nationkey AS nk, 'c' AS src FROM customer
  UNION ALL BY NAME
  SELECT 's' AS src, s_nationkey AS nk FROM supplier
)
GROUP BY nk, src
ORDER BY nk, src
""",
)
def q26_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"), F.lit("c").alias("src")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.lit("s").alias("src"), F.col("s_nationkey").alias("nk")
    )
    return (
        c.unionByName(s)
        .groupBy("nk", "src")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("nk", "src")
    )


# --------------------------------------------------------------------------
# q27 — typed casts x::T across the type matrix (reference:
# SchemaEvolution.java:60,283-306 emits typed casts for evolution reads).
# --------------------------------------------------------------------------
@query(
    "q27_casts",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderkey AS VARCHAR)            AS key_str,
       CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
       CAST(TRUNC(o_totalprice) AS BIGINT)    AS price_long,
       CAST(o_orderdate AS DATE)              AS order_day,
       CAST(o_orderkey % 2 AS BOOLEAN)        AS odd_key,
       CAST(NULL AS INTEGER)                  AS always_null
FROM orders
WHERE o_orderkey <= 100
ORDER BY o_orderkey
""",
)
def q27_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 100)
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderkey").cast("string").cast("bigint").alias("key_roundtrip"),
        # decimal cast exercised, then rendered as DOUBLE: Spark's
        # double->decimal uses HALF_UP while DuckDB rounds half-to-even,
        # and decimal *rendering* differs between engines even when the
        # value agrees — the driver hashes rendered values.
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("price_dec"),
        F.col("o_totalprice").cast("bigint").alias("price_long"),
        F.col("o_orderdate").cast("date").alias("order_day"),
        (F.col("o_orderkey") % 2).cast("boolean").alias("odd_key"),
        F.lit(None).cast("int").alias("always_null"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# q28 — window RANGE frame (value-based) next to the ROWS frame of q09.
# --------------------------------------------------------------------------
@query(
    "q28_range_frame",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity,
       COUNT(*) OVER (PARTITION BY l_orderkey ORDER BY l_quantity
                      RANGE BETWEEN 5.0 PRECEDING AND CURRENT ROW) AS n_within_5,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
            PARTITION BY l_orderkey ORDER BY l_quantity
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS qty_cume
FROM lineitem
WHERE l_orderkey <= 300
ORDER BY l_orderkey, l_linenumber
""",
)
def q28_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 300)
    w5 = (
        W.partitionBy("l_orderkey")
        .orderBy("l_quantity")
        .rangeBetween(-5, W.currentRow)
    )
    wc = (
        W.partitionBy("l_orderkey")
        .orderBy("l_quantity")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.count(F.lit(1)).over(w5).alias("n_within_5"),
        as_double(F.sum(dec("l_quantity")).over(wc)).alias("qty_cume"),
    ).orderBy("l_orderkey", "l_linenumber")


# --------------------------------------------------------------------------
# q29 — math functions with cross-engine-exact results (sqrt is IEEE-exact;
# floor/ceil/round/sign/mod are integral — transcendental fns excluded on
# purpose: libm vs JVM differ in ulps).
# --------------------------------------------------------------------------
@query(
    "q29_math_funcs",
    oracle="""
SELECT o_orderkey,
       SQRT(o_totalprice)                    AS price_sqrt,
       CAST(FLOOR(o_totalprice) AS BIGINT)   AS price_floor,
       CAST(CEIL(o_totalprice) AS BIGINT)    AS price_ceil,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS price_round1,
       CAST(o_orderkey % 7 AS BIGINT)        AS key_mod7,
       CAST(SIGN(o_totalprice - 100000.0) AS DOUBLE) AS price_sign,
       GREATEST(o_orderkey, o_custkey)       AS max_key,
       LEAST(o_orderkey, o_custkey)          AS min_key
FROM orders
WHERE o_orderkey <= 200
ORDER BY o_orderkey
""",
)
def q29_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    return o.select(
        "o_orderkey",
        F.sqrt("o_totalprice").alias("price_sqrt"),
        F.floor("o_totalprice").alias("price_floor"),
        F.ceil("o_totalprice").alias("price_ceil"),
        # decimal round for exactness, then back to DOUBLE per the registry
        # convention (the r13 replica red-flags decimal output columns —
        # the driver's decimal hash rendering is unobservable, r12 q121)
        F.round(F.col("o_totalprice").cast("decimal(18,2)"), 1)
        .cast("double")
        .alias("price_round1"),
        (F.col("o_orderkey") % 7).cast("bigint").alias("key_mod7"),
        F.signum(F.col("o_totalprice") - 100000.0).alias("price_sign"),
        F.greatest("o_orderkey", "o_custkey").alias("max_key"),
        F.least("o_orderkey", "o_custkey").alias("min_key"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# q33 — file metadata columns (reference exposes filename / file_row_number,
# common.xml:36-59; Spark: hidden `_metadata.file_name` / `_metadata.row_index`
# on parquet scans).  Absolute paths can't hash-match an oracle, so the
# check uses file-layout-INDEPENDENT invariants: per physical file the
# row_index must be dense from 0, so per flag max(per-file min) == 0 and
# sum(per-file max + 1) == count(*) — both computable by DuckDB from the
# logical table no matter how many files each flag spans.  The partitioned
# copy is a 2-column projection written ONCE per (session, sf_dir) and
# salted across 8 shards per flag (repartition on flag alone would funnel
# each 3-value key through a single task — unbounded skew at scale).
# --------------------------------------------------------------------------
@query(
    "q33_file_metadata",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS zero_floor,
       CAST(count(*) AS BIGINT) AS n_rows_via_index
FROM lineitem WHERE l_orderkey <= 30000
GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def q33_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from swiftlake_spark.artifacts import registry

    app = spark.sparkContext.applicationId
    parent = registry.get_tempdir("q33_wh", (app, sf_dir))
    if parent is None:
        # bounded slice: the metadata-column semantics under test are
        # layout-local (per-file dense row_index after partitionBy), so a
        # capped orderkey range exercises them identically while the
        # amortized one-time write shrinks ~20× at sf0.1 (the write was
        # the only reason q33 sat >2× its floor in the driver bench)
        li = (
            load(spark, sf_dir, "lineitem")
            .filter(F.col("l_orderkey") <= 30000)
            .select("l_returnflag", "l_orderkey")
        )
        parent = tempfile.mkdtemp(prefix="q33_files_")
        out = parent + "/lineitem_by_flag"
        (
            li.repartition(F.col("l_returnflag"), F.pmod(F.col("l_orderkey"), F.lit(8)))
            .write.partitionBy("l_returnflag")
            .parquet(out)
        )
        registry.put_tempdir("q33_wh", (app, sf_dir), parent, app_id=app)
    out = parent + "/lineitem_by_flag"
    back = spark.read.parquet(out).select(
        "l_returnflag",
        F.col("_metadata.file_name").alias("_file"),
        F.col("_metadata.row_index").alias("_row_index"),
    )
    per_file = back.groupBy("l_returnflag", "_file").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_row_index").alias("min_ri"),
        F.max("_row_index").alias("max_ri"),
    )
    return (
        per_file.groupBy("l_returnflag")
        .agg(
            F.sum("n").alias("n_rows"),
            F.max("min_ri").alias("zero_floor"),
            F.sum(F.col("max_ri") + F.lit(1)).alias("n_rows_via_index"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# q34 — SELECT * EXCEPT (reference surface: DuckDB `* EXCLUDE` /
# `* REPLACE`, update.xml:13-23; Spark spells it EXCEPT).
# --------------------------------------------------------------------------
@query(
    "q34_select_except",
    oracle="""
SELECT * EXCLUDE (props, value) FROM events
WHERE event_id <= 50
ORDER BY event_id
""",
)
def q34_select_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("event_id") <= 50)
    e.createOrReplaceTempView("__q34_events")
    return spark.sql(
        "SELECT * EXCEPT (props, value) FROM __q34_events ORDER BY event_id"
    )


# --------------------------------------------------------------------------
# q35 — as-of join (operators.joins.asof_join): latest prior 'view' per
# user attached to each 'click'.  Oracle: DuckDB's native ASOF JOIN.
# Right side deduped per (user, ts) so ties are deterministic in both.
# --------------------------------------------------------------------------
@query(
    "q35_asof_join",
    oracle="""
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), views AS (
  SELECT user_id, ts, MAX(event_id) AS view_event_id,
         MAX_BY(value, event_id) AS view_value
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
       v.view_event_id AS right_view_event_id,
       v.view_value    AS right_view_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
ORDER BY c.event_id
""",
)
def q35_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.joins import asof_join

    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("view_event_id"),
            F.max_by("value", "event_id").alias("view_value"),
        )
    )
    out = asof_join(
        clicks,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["view_event_id", "view_value"],
    )
    return out.select("event_id", "user_id", "right_view_event_id", "right_view_value").orderBy(
        "event_id"
    )


# --------------------------------------------------------------------------
# q36 — band/range join (operators.joins.range_join): price pairs within
# ±0.5, bucketed equi-join instead of a cross product.  Oracle: plain
# inequality join (DuckDB IEJoin).
# --------------------------------------------------------------------------
@query(
    "q36_range_join",
    oracle="""
SELECT l.l_orderkey, l.l_linenumber, p.p_partkey,
       l.l_extendedprice, p.p_retailprice
FROM (SELECT * FROM lineitem WHERE l_orderkey <= 400) l
JOIN part p ON ABS(l.l_extendedprice - p.p_retailprice) <= 25.0
ORDER BY l.l_orderkey, l.l_linenumber, p.p_partkey
""",
)
def q36_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.joins import range_join

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 400)
    p = load(spark, sf_dir, "part")
    out = range_join(
        li, p, left_val="l_extendedprice", right_val="p_retailprice", width=25.0
    )
    return out.select(
        "l_orderkey", "l_linenumber", "p_partkey", "l_extendedprice", "p_retailprice"
    ).orderBy("l_orderkey", "l_linenumber", "p_partkey")


# --------------------------------------------------------------------------
# q37 — join on STRUCT keys (reference: join-filter pushdown incl. nested
# struct keys, SwiftLakeEngineIntegrationTest.java:368-470).
# --------------------------------------------------------------------------
@query(
    "q37_struct_key_join",
    oracle="""
WITH o AS (
  -- seg_hint derives from ck IDENTICALLY on both sides, so equality of
  -- the WHOLE struct is meaningful (the old "AND o.k = o.k" conjunct
  -- was a tautology — the declared struct-key-join coverage was vacuous)
  SELECT {'ck': o_custkey, 'seg_hint': CAST(o_custkey % 3 AS VARCHAR)} AS k, o_totalprice
  FROM orders
), c AS (
  SELECT {'ck': c_custkey, 'seg_hint': CAST(c_custkey % 3 AS VARCHAR)} AS k, c_mktsegment
  FROM customer
)
SELECT c.c_mktsegment AS seg, COUNT(*) AS n,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM o JOIN c ON o.k = c.k
GROUP BY c.c_mktsegment
ORDER BY seg
""",
)
def q37_struct_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        F.struct(
            F.col("o_custkey").alias("ck"),
            (F.col("o_custkey") % 3).cast("string").alias("seg_hint"),
        ).alias("k"),
        "o_totalprice",
    )
    c = load(spark, sf_dir, "customer").select(
        F.struct(
            F.col("c_custkey").alias("ck"),
            (F.col("c_custkey") % 3).cast("string").alias("seg_hint"),
        ).alias("k"),
        "c_mktsegment",
    )
    return (
        o.alias("o")
        # full STRUCT equality — the capability this query certifies
        .join(F.broadcast(c.alias("c")), F.col("o.k") == F.col("c.k"))
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            as_double(F.sum(dec("o_totalprice"))).alias("total"),
        )
        .orderBy("seg")
    )


# --------------------------------------------------------------------------
# q38 — SCD snapshot-diff classification as a read query: the exact
# I/U/D/N decision tree of the merge (order matters, scd1_merge.xml:77-96;
# candidate flags, null-safe keys, IS DISTINCT FROM value compare) over
# deterministic target/source derivations of `orders`.  Puts the merge
# semantics themselves under the oracle gate.
# --------------------------------------------------------------------------
@query(
    "q38_scd_diff_classify",
    oracle="""
WITH target AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 5 != 0
), source AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
         o_orderpriority
  FROM orders WHERE o_orderkey % 3 != 0
), me AS (
  SELECT *, CASE WHEN o_orderstatus IN ('O', 'F') THEN TRUE ELSE FALSE END AS cand
  FROM target
), other AS (
  SELECT *, TRUE AS cand FROM source
), diffs AS (
  SELECT
    CASE
      WHEN me.cand IS NULL THEN 'I'
      WHEN me.cand AND other.cand AND (
            me.o_totalprice IS DISTINCT FROM other.o_totalprice
         OR me.o_orderpriority IS DISTINCT FROM other.o_orderpriority) THEN 'U'
      WHEN me.cand AND other.cand IS NULL THEN 'D'
      ELSE 'N'
    END AS op
  FROM me FULL OUTER JOIN other
    ON me.cand = other.cand AND me.o_orderkey IS NOT DISTINCT FROM other.o_orderkey
)
SELECT op, COUNT(*) AS n FROM diffs GROUP BY op ORDER BY op
""",
)
def q38_scd_diff_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    source = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderpriority",
    )
    me = target.withColumn(
        "cand", F.when(F.col("o_orderstatus").isin("O", "F"), True).otherwise(False)
    ).alias("me")
    other = source.withColumn("cand", F.lit(True)).alias("other")
    j = me.join(
        other,
        (F.col("me.cand") == F.col("other.cand"))
        & F.col("me.o_orderkey").eqNullSafe(F.col("other.o_orderkey")),
        "full_outer",
    )
    mc, oc = F.col("me.cand"), F.col("other.cand")
    diff = ~F.col("me.o_totalprice").eqNullSafe(F.col("other.o_totalprice")) | ~F.col(
        "me.o_orderpriority"
    ).eqNullSafe(F.col("other.o_orderpriority"))
    op = (
        F.when(mc.isNull(), "I")
        .when(mc & oc & diff, "U")
        .when(mc & oc.isNull(), "D")
        .otherwise("N")
    )
    return (
        j.select(op.alias("op"))
        .groupBy("op")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("op")
    )


# --------------------------------------------------------------------------
# q39 — MAP construction + lookup + keys/values (completes the
# list/struct/map row of §2.B: map_from_entries ≙ reference's
# schema-evolution map rebuild, SchemaEvolution.java:561-583).
# --------------------------------------------------------------------------
@query(
    "q39_map_funcs",
    oracle="""
WITH per AS (
  SELECT l_orderkey, l_linestatus, COUNT(*) AS n
  FROM lineitem WHERE l_orderkey <= 500
  GROUP BY l_orderkey, l_linestatus
), m AS (
  SELECT l_orderkey,
         map_from_entries(list({'k': l_linestatus, 'v': n})) AS mp
  FROM per GROUP BY l_orderkey
)
SELECT l_orderkey,
       mp['O'][1] AS n_open,
       mp['F'][1] AS n_filled,
       array_to_string(list_sort(map_keys(mp)), ',') AS statuses,
       CAST(list_sum(map_values(mp)) AS BIGINT) AS total_lines
FROM m
ORDER BY l_orderkey
""",
)
def q39_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    per = li.groupBy("l_orderkey", "l_linestatus").agg(F.count(F.lit(1)).alias("n"))
    m = per.groupBy("l_orderkey").agg(
        F.map_from_entries(F.collect_list(F.struct("l_linestatus", "n"))).alias("mp")
    )
    return m.select(
        "l_orderkey",
        F.element_at("mp", "O").alias("n_open"),
        F.element_at("mp", "F").alias("n_filled"),
        F.concat_ws(",", F.sort_array(F.map_keys("mp"))).alias("statuses"),
        F.aggregate(
            F.map_values("mp"), F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("total_lines"),
    ).orderBy("l_orderkey")


# --------------------------------------------------------------------------
# q60 — correlated LATERAL join: top-2 lineitems per order (the SQL form
# of per-group top-k; Catalyst decorrelates to a ranked join).
# --------------------------------------------------------------------------
@query(
    "q60_lateral_join",
    oracle="""
SELECT o.o_orderkey, t.l_linenumber, t.l_quantity
FROM orders o JOIN LATERAL (
  SELECT l_linenumber, l_quantity FROM lineitem
  WHERE l_orderkey = o.o_orderkey
  ORDER BY l_quantity DESC, l_linenumber LIMIT 2
) t ON TRUE
WHERE o.o_orderkey <= 200
ORDER BY o.o_orderkey, t.l_linenumber
""",
)
def q60_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("__q60_orders")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("__q60_lineitem")
    # r14 (guide §6 "verify pushdown reached the scan"): Catalyst
    # decorrelates the LATERAL into a ranked join but does NOT propagate
    # the outer o_orderkey <= 200 bound through the equality into the
    # lineitem scan — the window ranked ALL 600k lineitems to keep the
    # ~800 that can ever match.  Adding the transitively-implied
    # l_orderkey <= 200 conjunct (no row change: l_orderkey = o_orderkey
    # and o_orderkey <= 200) pushes into the parquet scan
    # (plans/r14/q60_lateral_join_{before,after}.txt: lineitem
    # PushedFilters gains the range, window input 600k → ~800 rows).
    return spark.sql(
        """
        SELECT o.o_orderkey, t.l_linenumber, t.l_quantity
        FROM __q60_orders o JOIN LATERAL (
          SELECT l_linenumber, l_quantity FROM __q60_lineitem
          WHERE l_orderkey = o.o_orderkey AND l_orderkey <= 200
          ORDER BY l_quantity DESC, l_linenumber LIMIT 2
        ) t
        WHERE o.o_orderkey <= 200
        ORDER BY o.o_orderkey, t.l_linenumber
        """
    )


# --------------------------------------------------------------------------
# q61 — correlated scalar subqueries in the SELECT list.
# --------------------------------------------------------------------------
@query(
    "q61_scalar_subquery",
    oracle="""
SELECT o_orderkey,
       (SELECT COUNT(*) FROM lineitem WHERE l_orderkey = o_orderkey) AS n_lines,
       (SELECT CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        FROM lineitem WHERE l_orderkey = o_orderkey) AS max_qty
FROM orders
WHERE o_orderkey <= 200
ORDER BY o_orderkey
""",
)
def q61_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("__q61_orders")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("__q61_lineitem")
    return spark.sql(
        """
        SELECT o_orderkey,
               (SELECT COUNT(*) FROM __q61_lineitem WHERE l_orderkey = o_orderkey) AS n_lines,
               (SELECT CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                FROM __q61_lineitem WHERE l_orderkey = o_orderkey) AS max_qty
        FROM __q61_orders
        WHERE o_orderkey <= 200
        ORDER BY o_orderkey
        """
    )


# --------------------------------------------------------------------------
# q62 — explicit GROUPING SETS (the general form behind ROLLUP q12 and
# CUBE q24).
# --------------------------------------------------------------------------
@query(
    "q62_grouping_sets",
    oracle="""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def q62_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("__q62_orders")
    return spark.sql(
        """
        -- r14: pre-aggregate at (status, priority) before the grouping-
        -- sets Expand (guide §2.3; same equivalence argument as
        -- q12_rollup — counts and decimal sums re-aggregate exactly).
        -- Expand runs over ~15 pre-aggregated rows instead of 150k.
        WITH pre AS (
          SELECT o_orderstatus, o_orderpriority, COUNT(*) AS __n,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS __s
          FROM __q62_orders
          GROUP BY o_orderstatus, o_orderpriority
        )
        SELECT o_orderstatus, o_orderpriority, SUM(__n) AS n,
               CAST(SUM(__s) AS DOUBLE) AS total
        FROM pre
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """
    )


# --------------------------------------------------------------------------
# q106 — decimal EXACTNESS pinned cross-engine (ADVICE r2: q27 renders
# decimals as DOUBLE, dropping decimal-semantics coverage).  Decimals here
# derive from integers only (double→decimal tie-rounding differs between
# engines: Spark HALF_UP vs DuckDB half-even), and results render as
# strings, so scale propagation (add: max scale; multiply: s1+s2;
# window SUM: operand scale) must match digit-for-digit.
# --------------------------------------------------------------------------
@query(
    "q106_decimal_exact",
    oracle="""
SELECT o_orderkey,
       CAST(CAST(o_orderkey AS DECIMAL(10,2)) AS VARCHAR)            AS dec_str,
       CAST(CAST(o_orderkey AS DECIMAL(10,2)) + 0.25 AS VARCHAR)     AS add_str,
       CAST(CAST(o_orderkey AS DECIMAL(10,2)) * 1.5 AS VARCHAR)      AS mul_str,
       CAST(SUM(CAST(o_orderkey AS DECIMAL(10,2))) OVER () AS VARCHAR) AS sum_str
FROM orders
WHERE o_orderkey <= 100
ORDER BY o_orderkey
""",
)
def q106_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 100)
    d = F.col("o_orderkey").cast("decimal(10,2)")
    return o.select(
        "o_orderkey",
        d.cast("string").alias("dec_str"),
        (d + F.expr("CAST(0.25 AS DECIMAL(3,2))")).cast("string").alias("add_str"),
        (d * F.expr("CAST(1.5 AS DECIMAL(2,1))")).cast("string").alias("mul_str"),
        F.sum(d).over(W.orderBy(F.lit(1)).rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )).cast("string").alias("sum_str"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# q107 — approx percentile with a relative-error verdict (q25's pattern):
# both engines agree on the exact percentile and assert their own sketch
# lands within 5% of it.  Spark: approx_percentile (Greenwald-Khanna);
# DuckDB: approx_quantile (t-digest) — algorithms differ, the CONTRACT
# (bounded error against the shared exact value) is what's pinned.
# Sketch aggregation is partial-agg friendly on both sides — the scale
# path for percentiles over 100 TB where exact sort-based quantiles
# would shuffle the world.
# --------------------------------------------------------------------------
@query(
    "q107_approx_percentile",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS exact_p50,
       abs(approx_quantile(l_extendedprice, 0.5) - quantile_cont(l_extendedprice, 0.5))
         <= 0.05 * quantile_cont(l_extendedprice, 0.5) AS approx_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q107_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the EXACT percentile computed alongside the sketch is the
    # certification cost (by design — the user-facing operator is the
    # sketch alone)
    li = load(spark, sf_dir, "lineitem")
    exact = F.expr("percentile(l_extendedprice, 0.5)")
    approx = F.expr("approx_percentile(l_extendedprice, 0.5)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            exact.alias("exact_p50"),
            (F.abs(approx - exact) <= 0.05 * exact).alias("approx_ok"),
        )
        .orderBy("l_returnflag")
    )
