"""The relational query surface (SURVEY.md §2.3 Q1-Q8).

The reference exposes its 8 state tables through Hasura→PostgreSQL:
projection, predicate filters with boolean combinators, FK
relationship joins with nested selection, aggregates, order/limit/
offset pagination, and point lookups (`README.md:89-152`,
`infrastructure-compose.yml:44-56`). Here each capability is expressed
Spark-first over the driver's star schema and paired with a DuckDB
oracle.

Scale notes (100 TB):
- dimension joins (region/nation/customer/supplier/part) are broadcast
  — `F.broadcast` below makes it explicit rather than relying on the
  size estimator; no shuffle of the fact side on the build key.
- aggregations are expressed as single groupBy so Catalyst plans
  partial (map-side) aggregation before the exchange.
- filters use literal predicates on scan columns so they reach the
  parquet reader (PushedFilters) and prune row groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dwh_spark.fixtures import memo, scratch_dir
from dwh_spark.plans.registry import query
from dwh_spark.sources.catalog import load_table


def _dec(col: str) -> F.Column:
    """Money-as-double → exact DECIMAL(18,2) (see registry docstring)."""
    return F.col(col).cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# Flagship (SURVEY §7 phase 0): the reference's README query — every owner
# with the tokens they own, as a nested list (README.md:93-118, Hasura
# users{address nfts{token_id}}) — re-expressed on the star schema as every
# customer with the orders they "own". collect_list(struct) is the Spark
# shape; for oracle hash-stability the list is a sorted comma-join.
# ---------------------------------------------------------------------------
@query(
    "flagship_owned_orders",
    oracle="""
    SELECT c.c_custkey AS custkey,
           c.c_name    AS name,
           count(o.o_orderkey)                                  AS n_orders,
           coalesce(string_agg(o.o_orderkey, ',' ORDER BY o.o_orderkey), '') AS orderkeys
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
)
def flagship_owned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey, "left")
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
        )
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.concat_ws(",", F.sort_array(F.collect_list("o_orderkey"))).alias("orderkeys"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q1 shape: multi-aggregate pricing summary. Exercises Q5 aggregates
# + Q2 range predicate; at scale this is the canonical partial-agg plan
# (2 grouping cols × 6k distinct dates → tiny shuffle).
# ---------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)   AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty, price, disc, tax = (_dec(c) for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double").alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / F.count("*"), 6).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / F.count("*"), 6).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / F.count("*"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q3 shape: FK equi-joins (Q4) + filter + agg + order/limit (Q6).
# customer is broadcast (dim); orders⋈lineitem shuffles on orderkey once.
# ---------------------------------------------------------------------------
@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS orderkey,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o.o_orderdate AS orderdate,
           o.o_orderpriority AS orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    return (
        li.filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
        .join(
            orders.filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .select("orderkey", "revenue", "orderdate", "orderpriority")
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: 6-table join through the FK chain (Q4 at depth), dims
# broadcast, fact shuffled once on orderkey.
# ---------------------------------------------------------------------------
@query(
    "q5_region_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
    ORDER BY revenue DESC
    """,
)
def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    dims = (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"))
    )


# ---------------------------------------------------------------------------
# Q2+Q3: the full Hasura predicate family — _eq,_neq,_gt,_lt,_gte,_lte,
# _in,_like,_is_null — under _and/_or/_not combinators (README.md:121-135).
# ---------------------------------------------------------------------------
@query(
    "filters_combinators",
    oracle="""
    SELECT o_orderkey AS orderkey, o_orderstatus AS status,
           o_totalprice AS totalprice, o_orderpriority AS priority
    FROM orders
    WHERE (o_orderstatus = 'O' OR o_totalprice >= 50000.0)
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND NOT (o_orderstatus = 'P')
      AND o_orderpriority LIKE '%-%'
      AND o_orderdate IS NOT NULL
      AND o_totalprice > 100.0 AND o_totalprice <= 200000.0
      AND o_orderstatus <> 'X'
    """,
)
def filters_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        ((F.col("o_orderstatus") == "O") | (F.col("o_totalprice") >= 50000.0))
        & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & ~(F.col("o_orderstatus") == "P")
        & F.col("o_orderpriority").like("%-%")
        & F.col("o_orderdate").isNotNull()
        & (F.col("o_totalprice") > 100.0)
        & (F.col("o_totalprice") <= 200000.0)
        & (F.col("o_orderstatus") != "X")
    ).select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_orderpriority").alias("priority"),
    )


# ---------------------------------------------------------------------------
# Q5: the <table>_aggregate surface — count / sum / avg / min / max.
# ---------------------------------------------------------------------------
@query(
    "agg_all_orders",
    oracle="""
    SELECT o_orderstatus AS status,
           count(*) AS n,
           count(DISTINCT o_custkey) AS n_customers,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_total,
           min(o_totalprice) AS min_total,
           max(o_totalprice) AS max_total,
           min(o_orderdate) AS first_order,
           max(o_orderdate) AS last_order
    FROM orders GROUP BY 1
    """,
)
def agg_all_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    total = _dec("o_totalprice")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(total).cast("double").alias("sum_total"),
        F.round(F.sum(total).cast("double") / F.count("*"), 6).alias("avg_total"),
        F.min("o_totalprice").alias("min_total"),
        F.max("o_totalprice").alias("max_total"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


# ---------------------------------------------------------------------------
# Q6: order_by / limit / offset pagination. The scale-safe form is a
# top-(offset+limit) pre-cut: orderBy(...).limit(offset+limit) compiles
# to TakeOrderedAndProject — per-partition bounded heaps merged on the
# driver — so only offset+limit rows ever leave any task. The
# row_number window then ranks just those survivors (trivially small),
# never the full table through one unpartitioned window task.
# ---------------------------------------------------------------------------
@query(
    "pagination_page3",
    oracle="""
    WITH ranked AS (
      SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS acctbal,
             row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    )
    SELECT custkey, name, acctbal FROM ranked
    WHERE rn > 40 AND rn <= 60
    ORDER BY rn
    """,
)
def pagination_page3(spark: SparkSession, sf_dir: str) -> DataFrame:
    offset, limit = 40, 20
    c = load_table(spark, sf_dir, "customer")
    top = c.orderBy(F.desc("c_acctbal"), F.asc("c_custkey")).limit(offset + limit)
    w = Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        top.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > offset)
        .orderBy("rn")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Q8: point lookups by unique / composite key (users-by-address,
# offers-by-(token_id,offer_id) analogs — marketplace.go:55,342-346).
# At scale these hit parquet min/max row-group pruning via PushedFilters.
# ---------------------------------------------------------------------------
@query(
    "point_lookup_composite",
    oracle="""
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
           l_partkey AS partkey, l_quantity AS quantity, l_extendedprice AS price
    FROM lineitem
    WHERE l_orderkey IN (3, 7, 8) AND l_linenumber = 1
    """,
)
def point_lookup_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey").isin(3, 7, 8) & (F.col("l_linenumber") == 1)).select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        F.col("l_partkey").alias("partkey"),
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("price"),
    )


# ---------------------------------------------------------------------------
# Top-K per group — window ranking (SURVEY §2.6 extension; the scalable
# form of the reference's ORDER BY ... LIMIT per-entity lookups).
# ---------------------------------------------------------------------------
@query(
    "topk_orders_per_segment",
    oracle="""
    WITH ranked AS (
      SELECT c.c_mktsegment AS segment, o.o_orderkey AS orderkey,
             o.o_totalprice AS totalprice,
             row_number() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rnk
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT segment, orderkey, totalprice, rnk FROM ranked WHERE rnk <= 3
    """,
)
def topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("segment").orderBy(F.desc("totalprice"), F.asc("orderkey"))
    return (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("totalprice"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Set operations — union / intersect / except (SURVEY §2.6: absent in the
# reference, free in Spark; part of the complete query surface).
# ---------------------------------------------------------------------------
@query(
    "setops_customer_segments",
    oracle="""
    WITH building AS (SELECT o_custkey AS custkey FROM orders o
                      JOIN customer c ON o.o_custkey=c.c_custkey
                      WHERE c.c_mktsegment='BUILDING'),
         urgent AS (SELECT o_custkey AS custkey FROM orders
                    WHERE o_orderpriority='1-URGENT')
    SELECT 'both' AS bucket, count(*) AS n FROM (SELECT DISTINCT custkey FROM building INTERSECT SELECT DISTINCT custkey FROM urgent)
    UNION ALL
    SELECT 'building_only' AS bucket, count(*) AS n FROM (SELECT DISTINCT custkey FROM building EXCEPT SELECT DISTINCT custkey FROM urgent)
    UNION ALL
    SELECT 'all' AS bucket, count(*) AS n FROM (SELECT DISTINCT custkey FROM building UNION SELECT DISTINCT custkey FROM urgent)
    """,
)
def setops_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    building = (
        o.join(F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
               F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    both = building.intersect(urgent).agg(F.count("*").alias("n")).select(F.lit("both").alias("bucket"), "n")
    only = building.exceptAll(urgent).agg(F.count("*").alias("n")).select(F.lit("building_only").alias("bucket"), "n")
    union = building.union(urgent).distinct().agg(F.count("*").alias("n")).select(F.lit("all").alias("bucket"), "n")
    return both.unionAll(only).unionAll(union)


# ---------------------------------------------------------------------------
# ROLLUP — hierarchical aggregates region→nation (SURVEY §2.6 extension).
# ---------------------------------------------------------------------------
@query(
    "rollup_region_nation",
    oracle="""
    SELECT coalesce(r.r_name, 'ALL') AS region,
           coalesce(n.n_name, 'ALL') AS nation,
           count(c.c_custkey) AS n_customers,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("sum_acctbal"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "n_customers",
            "sum_acctbal",
        )
    )


@query(
    "semi_anti_customers",
    oracle="""
    SELECT 'with_urgent_order' AS cohort, count(*) AS n FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT 'never_ordered', count(*) FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS as left-semi and left-anti hash joins —
    Catalyst never materializes the subquery, and the probe side
    short-circuits on first match."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    semi = c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi")
    anti = c.join(o.select("o_custkey"), c.c_custkey == o.o_custkey, "left_anti")
    return semi.agg(
        F.lit("with_urgent_order").alias("cohort"), F.count("*").alias("n")
    ).unionByName(
        anti.agg(F.lit("never_ordered").alias("cohort"), F.count("*").alias("n"))
    )


@query(
    "cube_orders_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           grouping(o_orderstatus, o_orderpriority) AS gid,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping sets in one
    shuffle (Catalyst Expand), with grouping_id disambiguating rolled-up
    nulls from data nulls — the full grouping-sets surface next to
    rollup_region_nation's hierarchy."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# SQL-string surface: ONE dialect-portable ANSI string serves as both
# the Spark query (spark.sql over registered views) and the DuckDB
# oracle — the Hasura→SQL read path with zero translation layer.
# ---------------------------------------------------------------------------
_BIG_SPENDERS_SQL = """
    SELECT c.c_custkey AS custkey, c.c_name AS name,
           count(o.o_orderkey) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    HAVING count(o.o_orderkey) >= 20
    ORDER BY total_spent DESC, custkey
    LIMIT 25
"""


@query("sql_big_spenders", oracle=_BIG_SPENDERS_SQL)
def sql_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql surface: the exact oracle string runs unmodified
    through Catalyst over temp views — join, aggregate, HAVING,
    deterministic tie-broken top-k. Proves the engine's SQL dialect
    covers the delegated-query path, not just the DataFrame API."""
    from dwh_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_BIG_SPENDERS_SQL)


@query(
    "scalar_function_battery",
    oracle="""
    SELECT o_orderkey AS orderkey,
           upper(o_orderstatus) AS status_upper,
           lower(o_orderpriority) AS priority_lower,
           substr(o_orderpriority, 1, 1) AS priority_code,
           replace(o_orderpriority, '-', '_') AS priority_snake,
           length(o_orderpriority) AS priority_len,
           lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS key_padded,
           concat(o_orderstatus, ':', o_orderpriority) AS status_priority,
           CAST(strpos(o_orderpriority, '-') AS INT) AS dash_pos,
           abs(o_totalprice - 100000.0) AS price_dist,
           round(sqrt(o_totalprice), 4) AS price_sqrt,
           round(ln(o_totalprice), 6) AS price_ln,
           CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k,
           CAST(ceil(o_totalprice / 1000) AS BIGINT) AS price_k_up,
           o_orderkey % 7 AS key_mod,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS order_dow,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month_start,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
             AS days_since_epoch_start
    FROM orders
    WHERE o_orderkey % 97 = 0
    """,
)
def scalar_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The string/date/math scalar library (§2.6: the reference has
    none — Postgres supplied it; here Catalyst does). One row per
    sampled order exercising 21 scalar functions whose semantics must
    agree with the independent DuckDB implementations."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    d = F.to_date("o_orderdate")
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.upper("o_orderstatus").alias("status_upper"),
        F.lower("o_orderpriority").alias("priority_lower"),
        F.substring("o_orderpriority", 1, 1).alias("priority_code"),
        F.replace(F.col("o_orderpriority"), F.lit("-"), F.lit("_")).alias("priority_snake"),
        F.length("o_orderpriority").alias("priority_len"),
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("key_padded"),
        F.concat_ws(":", "o_orderstatus", "o_orderpriority").alias("status_priority"),
        F.instr(F.col("o_orderpriority"), "-").alias("dash_pos"),
        F.abs(F.col("o_totalprice") - 100000.0).alias("price_dist"),
        F.round(F.sqrt("o_totalprice"), 4).alias("price_sqrt"),
        F.round(F.log("o_totalprice"), 6).alias("price_ln"),
        F.floor(F.col("o_totalprice") / 1000).alias("price_k"),
        F.ceil(F.col("o_totalprice") / 1000).alias("price_k_up"),
        (F.col("o_orderkey") % 7).alias("key_mod"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofweek(d).alias("order_dow"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("order_month_start"),
        F.date_add(d, 30).alias("due_date"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias("days_since_epoch_start"),
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery — one ANSI string through BOTH engines:
# Catalyst must decorrelate it into an aggregate + join (check the
# plan: no per-row re-execution), DuckDB runs it natively.
# ---------------------------------------------------------------------------
_OUTLIER_ORDERS_SQL = """
    SELECT o.o_custkey AS custkey,
           count(*) AS n_outlier_orders,
           CAST(max(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_total
    FROM orders o
    WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) >
          (SELECT CAST(avg(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) * 2
           FROM orders i WHERE i.o_custkey = o.o_custkey)
    GROUP BY 1
"""


@query("sql_correlated_outliers", oracle=_OUTLIER_ORDERS_SQL)
def sql_correlated_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders more than 2x their customer's
    average): the identical ANSI string runs on both engines. Catalyst
    decorrelates to per-customer aggregate + join — scale-safe, no
    nested re-execution; the decimal casts keep the avg threshold
    comparison exact in both engines."""
    from dwh_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_OUTLIER_ORDERS_SQL)


# ---------------------------------------------------------------------------
# Bucketed co-located join: the write-side layout that deletes the
# join shuffle entirely (SURVEY scale levers; Delta/Iceberg bucketing).
# Tables are bucketed once per session into a temp warehouse; the
# driver-facing parquet stays untouched.
# ---------------------------------------------------------------------------
def _bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import uuid

    from dwh_spark.sources.sinks import write_bucketed

    def build() -> tuple[str, str]:
        root = scratch_dir("bucketed_")
        uid = uuid.uuid4().hex[:8]
        ot, ct = f"orders_b_{uid}", f"customer_b_{uid}"
        write_bucketed(
            load_table(spark, sf_dir, "orders"), ot,
            bucket_by=["o_custkey"], n_buckets=16, sort_by=["o_custkey"],
            path=f"{root}/orders",
        )
        write_bucketed(
            load_table(spark, sf_dir, "customer"), ct,
            bucket_by=["c_custkey"], n_buckets=16, sort_by=["c_custkey"],
            path=f"{root}/customer",
        )
        return ot, ct

    return memo(spark, ("bucketed_pair", sf_dir), build)


@query(
    "bucketed_cust_order_rollup",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           count(*) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1
    """,
)
def bucketed_cust_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer⋈orders with BOTH sides bucketed(16) on the join key:
    the sort-merge join consumes bucket locality — zero exchange on
    either input (pinned by tests/test_plan_audit.py); the only
    shuffle left is the 5-row segment rollup. At 100 TB this is the
    difference between joining in place and moving the fact table.
    Results must equal the plain join over the un-bucketed parquet."""
    ot, ct = _bucketed_pair(spark, sf_dir)
    o, c = spark.table(ot), spark.table(ct)
    joined = o.hint("merge").join(c, o.o_custkey == c.c_custkey)
    return joined.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


# ---------------------------------------------------------------------------
# Iterative graph analytics under the oracle gate: weighted PageRank on
# the customer-nation → supplier-nation trade graph (operators/graph.py
# pagerank). The oracle UNROLLS the 5 power iterations as chained CTEs
# — explicit, recursion-free SQL DuckDB executes exactly like the
# Spark loop's finite unrolled pipeline.
# ---------------------------------------------------------------------------
_PR_EDGES_SQL = """
    edges AS (
      SELECT cn.n_name AS src, sn.n_name AS dst, CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      GROUP BY 1, 2
    ),
    outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_total FROM edges GROUP BY 1),
    nodes AS (SELECT src AS name FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    pr0 AS (
      SELECT name, round(CAST(1.0 AS DOUBLE) / (SELECT n FROM nn), 6) AS rank
      FROM nodes
    )"""


def _pr_step(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
      SELECT nd.name,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
                   + CAST(0.85 AS DOUBLE) * coalesce(c.s, CAST(0.0 AS DOUBLE)), 6) AS rank
      FROM nodes nd LEFT JOIN (
        SELECT e.dst AS name,
               CAST(sum(CAST(round(p.rank * (e.w / CAST(o.out_total AS DOUBLE)), 12)
                             AS DECIMAL(16,12))) AS DOUBLE) AS s
        FROM {prev} p
        JOIN edges e ON e.src = p.name
        JOIN outw o ON o.src = p.name
        GROUP BY 1
      ) c ON c.name = nd.name
    )"""


_PR_ORACLE = (
    "WITH " + _PR_EDGES_SQL
    + "".join("," + _pr_step(f"pr{i}", f"pr{i + 1}") for i in range(5))
    + "\n    SELECT name AS nation, rank AS pagerank FROM pr5"
)


@query("nation_trade_pagerank", oracle=_PR_ORACLE)
def nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-round weighted PageRank over the 25-node nation trade graph
    (edge weight = lineitem count from customer nation to supplier
    nation). Edge building is the usual broadcast-dimension star join;
    each round is one join + one map-side-combinable shuffle; see
    operators/graph.py pagerank for the cross-engine float rules."""
    from dwh_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("src"))), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("dst"))), F.col("s_nationkey") == F.col("snk"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    ranks = pagerank(edges, n_iter=5)
    return ranks.select(F.col("name").alias("nation"), F.col("rank").alias("pagerank"))


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY 1
    )
    GROUP BY 1
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customers-per-order-count histogram; the
    testdata carries no o_comment, so the comment exclusion is
    dropped): LEFT OUTER join keeps zero-order customers, count(col)
    skips their NULLs, then a second tiny histogram shuffle. Both aggs
    partial-combine map-side; the join and first agg share the custkey
    partitioning, so AQE coalesces them into one exchange."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(o, cust.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "datetime_function_battery",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS DATE)   AS month_start,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start,
           CAST(date_trunc('week', o_orderdate) AS DATE)    AS week_start,
           CAST(extract(year FROM o_orderdate) AS INT)      AS y,
           CAST(extract(month FROM o_orderdate) AS INT)     AS m,
           CAST(extract(day FROM o_orderdate) AS INT)       AS d,
           CAST(dayofweek(o_orderdate) AS INT)              AS dow0,
           CAST(dayofyear(o_orderdate) AS INT)              AS doy,
           CAST(weekofyear(o_orderdate) AS INT)             AS iso_week,
           last_day(CAST(o_orderdate AS DATE))              AS month_end,
           CAST(o_orderdate + INTERVAL 3 DAY AS DATE)       AS plus3d,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2mo,
           CAST(date_diff('day', DATE '1995-01-01',
                          CAST(o_orderdate AS DATE)) AS INT) AS days_since_95
    FROM orders WHERE o_orderkey % 997 = 0
    """,
)
def datetime_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime semantics battery pinned across engines: truncation
    grain starts (month/quarter/ISO-Monday week), field extraction,
    day-of-week NORMALIZED to 0=Sunday (Spark's dayofweek is 1=Sunday,
    DuckDB's dayofweek is 0=Sunday — the one-off is explicit here, not
    an accident), ISO week numbers, month-end clamping via last_day
    and +2-month interval arithmetic, and day differences. All pure
    codegen date algebra on a keyed slice."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.filter(F.col("o_orderkey") % 997 == 0).select(
        "o_orderkey",
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.date_trunc("quarter", d).cast("date").alias("quarter_start"),
        F.date_trunc("week", d).cast("date").alias("week_start"),
        F.year(d).alias("y"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("d"),
        (F.dayofweek(d) - 1).alias("dow0"),
        F.dayofyear(d).alias("doy"),
        F.weekofyear(d).alias("iso_week"),
        F.last_day(d.cast("date")).alias("month_end"),
        F.date_add(d.cast("date"), 3).alias("plus3d"),
        F.add_months(d.cast("date"), 2).alias("plus2mo"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_95"
        ),
    )


@query(
    "reconcile_daily_counts",
    oracle="""
    WITH od AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             count(*) AS n_orders
      FROM orders GROUP BY 1
    ), ed AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n_events
      FROM events GROUP BY 1
    )
    SELECT coalesce(od.day, ed.day) AS day,
           CAST(coalesce(od.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(coalesce(ed.n_events, 0) AS BIGINT) AS n_events,
           (od.day IS NULL OR ed.day IS NULL) AS one_sided
    FROM od FULL OUTER JOIN ed ON od.day = ed.day
    """,
)
def reconcile_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation of two daily rollups (the missing
    join flavor in the battery set): days present in either source,
    zero-filled counts, a one-sided flag. Both inputs pre-aggregate to
    day grain before the join, so the outer join moves only O(days)
    rows regardless of fact size."""
    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    od = o.groupBy(F.to_date("o_orderdate").alias("o_day")).agg(
        F.count("*").alias("n_orders")
    )
    ed = ev.groupBy(F.to_date("ts").alias("e_day")).agg(
        F.count("*").alias("n_events")
    )
    return od.join(ed, od.o_day == ed.e_day, "full_outer").select(
        F.coalesce("o_day", "e_day").alias("day"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        (F.col("o_day").isNull() | F.col("e_day").isNull()).alias("one_sided"),
    )


@query(
    "orders_unpivot_measures",
    oracle="""
    WITH agg AS (
      SELECT o_orderpriority,
             CAST(count(*) AS DOUBLE) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
             max(o_totalprice) AS max_price
      FROM orders GROUP BY 1
    )
    SELECT o_orderpriority, m.measure,
           CASE m.measure WHEN 'n_orders' THEN n_orders
                          WHEN 'total_price' THEN total_price
                          ELSE max_price END AS value
    FROM agg CROSS JOIN (SELECT unnest(['n_orders', 'total_price', 'max_price'])
                         AS measure) m
    """,
)
def orders_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT (the inverse of the pivot battery): one row
    per (priority, measure). The melt happens on the 5-row aggregate,
    not the fact table — unpivot AFTER aggregation is the shape that
    survives scale (melting the fact side first would 3× the shuffle
    volume for the same answer)."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("double").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        F.max("o_totalprice").alias("max_price"),
    )
    return agg.unpivot(
        ["o_orderpriority"],
        ["n_orders", "total_price", "max_price"],
        "measure",
        "value",
    )


@query(
    "orders_window_function_battery",
    oracle="""
    WITH w AS (
        SELECT o_orderpriority,
               CAST(round(percent_rank() OVER ord, 6) AS DECIMAL(10,6)) AS pr,
               CAST(round(cume_dist() OVER ord, 6) AS DECIMAL(10,6)) AS cd,
               ntile(4) OVER ord AS tile,
               rank() OVER ord AS rnk,
               dense_rank() OVER ord AS drnk,
               o_totalprice - lag(o_totalprice, 1, o_totalprice) OVER ord AS dprice
        FROM orders
        WINDOW ord AS (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice, o_orderkey)
    )
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(sum(rnk) AS BIGINT) AS sum_rank,
           CAST(sum(drnk) AS BIGINT) AS sum_dense_rank,
           CAST(sum(tile) AS BIGINT) AS sum_ntile,
           round(CAST(sum(pr) AS DOUBLE), 4) AS sum_percent_rank,
           round(CAST(sum(cd) AS DOUBLE), 4) AS sum_cume_dist,
           round(CAST(sum(CAST(round(dprice, 2) AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_lag_diff
    FROM w GROUP BY o_orderpriority
    """,
)
def orders_window_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-window surface in one query: percent_rank,
    cume_dist, ntile, rank, dense_rank, lag — all over ONE window
    definition so Catalyst evaluates them in a single Window operator
    after a single (priority, price, key) sort; the oracle recomputes
    every function in DuckDB. Determinism: the window orders by a
    unique (price, orderkey) pair so ranks never tie-break
    differently, and the fractional functions are rounded to
    DECIMAL before summing (exact, order-insensitive addition —
    double sums would drift between engines)."""
    orders = load_table(spark, sf_dir, "orders")
    ord_w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    w = orders.select(
        "o_orderpriority",
        F.round(F.percent_rank().over(ord_w), 6).cast("decimal(10,6)").alias("pr"),
        F.round(F.cume_dist().over(ord_w), 6).cast("decimal(10,6)").alias("cd"),
        F.ntile(4).over(ord_w).alias("tile"),
        F.rank().over(ord_w).alias("rnk"),
        F.dense_rank().over(ord_w).alias("drnk"),
        (
            F.col("o_totalprice")
            - F.lag("o_totalprice", 1).over(ord_w)
        ).alias("dprice"),
    ).withColumn("dprice", F.coalesce("dprice", F.lit(0.0)))
    return w.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("rnk").cast("long").alias("sum_rank"),
        F.sum("drnk").cast("long").alias("sum_dense_rank"),
        F.sum("tile").cast("long").alias("sum_ntile"),
        F.round(F.sum("pr").cast("double"), 4).alias("sum_percent_rank"),
        F.round(F.sum("cd").cast("double"), 4).alias("sum_cume_dist"),
        F.round(
            F.sum(F.round(F.col("dprice"), 2).cast("decimal(18,2)")).cast("double"), 2
        ).alias("sum_lag_diff"),
    )


@query(
    "orders_constraint_checks",
    oracle="""
    SELECT 'pk_unique_orderkey' AS check_name,
           (SELECT count(*) FROM (
               SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1
           )) AS n_violations,
           (SELECT count(*) FROM orders) AS n_checked
    UNION ALL
    SELECT 'not_null_custkey',
           (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
           (SELECT count(*) FROM orders)
    UNION ALL
    SELECT 'fk_custkey_exists',
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)),
           (SELECT count(*) FROM orders)
    UNION ALL
    SELECT 'positive_totalprice',
           (SELECT count(*) FROM orders WHERE o_totalprice <= 0),
           (SELECT count(*) FROM orders)
    UNION ALL
    SELECT 'status_domain',
           (SELECT count(*) FROM orders
            WHERE o_orderstatus NOT IN ('O', 'F', 'P')),
           (SELECT count(*) FROM orders)
    """,
)
def orders_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint battery (the dbt-test /
    Deequ shape): primary-key uniqueness, NOT NULL, referential
    integrity (FK orphans via a broadcast anti join), a positivity
    range check, and a value-domain check — each reported as
    (check, violations, population) so a warehouse gate can assert
    all-zeros. One scan feeds the single-table checks; the FK check
    is the only join and broadcasts the dim-side keys.

    100 TB design: every check is a map-side predicate count except
    PK-uniqueness (one keyed aggregate) and the FK anti join (dim
    broadcast; at fact-sized dims it becomes a shuffled left_anti on
    the same key the fact is usually bucketed by)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    def cnt(cond: F.Column) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0))

    # ONE scan computes the total and every predicate check as
    # conditional aggregates; only PK-uniqueness (keyed aggregate) and
    # the FK anti join need their own jobs
    scalar = orders.agg(
        F.count("*").alias("n_checked"),
        cnt(F.col("o_custkey").isNull()).alias("v_null"),
        cnt(F.col("o_totalprice") <= 0).alias("v_nonpos"),
        cnt(~F.col("o_orderstatus").isin("O", "F", "P")).alias("v_domain"),
    )
    pk = (
        orders.groupBy("o_orderkey")
        .count()
        .agg(cnt(F.col("count") > 1).alias("v_pk"))
    )
    fk = (
        orders.join(
            F.broadcast(customer.select("c_custkey")),
            orders.o_custkey == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count("*").alias("v_fk"))
    )
    wide = scalar.crossJoin(F.broadcast(pk)).crossJoin(F.broadcast(fk))
    rows = [
        ("pk_unique_orderkey", "v_pk"),
        ("not_null_custkey", "v_null"),
        ("fk_custkey_exists", "v_fk"),
        ("positive_totalprice", "v_nonpos"),
        ("status_domain", "v_domain"),
    ]
    # explode one array of structs — a 5-way union would re-evaluate
    # the aggregate subtree once per row
    return wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check_name"),
                        F.col(col).cast("long").alias("n_violations"),
                        F.col("n_checked"),
                    )
                    for name, col in rows
                ]
            )
        ).alias("r")
    ).select("r.*")


@query(
    "orders_set_ops_battery",
    oracle="""
    WITH y95 AS (SELECT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                   AND o_orderdate < TIMESTAMP '1996-01-01'),
         y96 AS (SELECT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                   AND o_orderdate < TIMESTAMP '1997-01-01')
    SELECT
        (SELECT count(*) FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96))
            AS n_intersect,
        (SELECT count(*) FROM (SELECT * FROM y95 INTERSECT ALL
                               SELECT * FROM y96)) AS n_intersect_all,
        (SELECT count(*) FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96))
            AS n_except,
        (SELECT count(*) FROM (SELECT * FROM y95 EXCEPT ALL
                               SELECT * FROM y96)) AS n_except_all,
        (SELECT count(*) FROM (SELECT * FROM y95 UNION SELECT * FROM y96))
            AS n_union_distinct,
        (SELECT count(*) FROM (SELECT * FROM y95 UNION ALL
                               SELECT * FROM y96)) AS n_union_all
    """,
)
def orders_set_ops_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SQL set-operation surface over two year-sliced multisets
    of buyer keys: INTERSECT [ALL], EXCEPT [ALL], UNION [ALL/DISTINCT]
    — the ALL variants exercise multiset bag semantics (Spark
    intersectAll/exceptAll compile to aggregate-count + generate
    replication, not a naive distinct)."""
    orders = load_table(spark, sf_dir, "orders")

    def year(y: int) -> DataFrame:
        return orders.filter(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select("o_custkey")

    y95, y96 = year(1995), year(1996)
    counts = {
        "n_intersect": y95.intersect(y96),
        "n_intersect_all": y95.intersectAll(y96),
        "n_except": y95.subtract(y96),
        "n_except_all": y95.exceptAll(y96),
        "n_union_distinct": y95.union(y96).distinct(),
        "n_union_all": y95.union(y96),
    }
    out = None
    for name, df in counts.items():
        one = df.agg(F.count("*").alias(name))
        out = one if out is None else out.crossJoin(F.broadcast(one))
    return out


@query(
    "orders_pivot_unpivot_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           'n_' || lower(o_orderstatus) AS status_col,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    """,
)
def orders_pivot_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT → UNPIVOT roundtrip: statuses pivot to wide columns (one
    Expand-free aggregate with an explicit value list, so Catalyst
    skips the distinct-discovery job), then unpivot melts them back to
    long form. The oracle is the plain long-form GROUP BY — wide↔long
    must be lossless, including the zero-count cells the pivot
    materializes and the unpivot filter drops."""
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .withColumnsRenamed({"O": "n_o", "F": "n_f", "P": "n_p"})
    )
    long = wide.unpivot(
        ["o_orderpriority"],
        ["n_o", "n_f", "n_p"],
        "status_col",
        "n_orders",
    ).filter(F.col("n_orders").isNotNull())
    return long.select("o_orderpriority", "status_col", "n_orders")
