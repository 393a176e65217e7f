"""TPC-H-style analytical queries over the fixture star schema, DataFrame-API
first. These cover the join/agg surface the reference delegates to DuckDB
(SURVEY.md §2.7-2.8) in the shape Spark executes best:

- fixed-cardinality dimensions (region: 5 rows, nation: 25 rows — constant at
  every TPC-H SF) carry an explicit broadcast hint; SF-SCALED tables
  (customer/supplier/part grow linearly with data volume) carry NO mandatory
  hint — AQE broadcasts them at small SF where they fit and falls back to a
  shuffle join at the 100 TB SF where a forced hint would OOM the executors
  (VERDICT r3 "What's wrong" #2);
- aggregations are partial (map-side combine) by construction of groupBy.agg;
- double sums follow the DECIMAL convention from queries/__init__ so the
  DuckDB oracle hash-matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from universql_spark.queries import register
from universql_spark.queries.clickbench import davg, dsum


def _dsum(colexpr: str, alias: str) -> F.Column:
    return F.expr(dsum(colexpr)).alias(alias)


REVENUE = "l_extendedprice * (1 - l_discount)"


# The five bench=True TPC-H specs run ONE portable ANSI string through
# spark.sql — identical text on both engines (r6: the DataFrame-API builds
# cost 50-130 ms of Py4J column-construction chatter per replan vs ~27 ms
# for a single spark.sql round-trip; measured q1 total 545 -> 366 ms;
# physical plans unchanged — partial aggs, dim broadcasts, fact-to-fact
# shuffle joins — asserted in tests/test_plans.py). Non-bench specs keep
# their DataFrame-API form, which documents the operator shapes.
_Q1_SQL = f"""SELECT l_returnflag, l_linestatus,
       {dsum('l_quantity')} AS sum_qty,
       {dsum('l_extendedprice')} AS sum_base_price,
       {dsum(REVENUE)} AS sum_disc_price,
       {dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {davg('l_quantity')} AS avg_qty,
       {davg('l_extendedprice')} AS avg_price,
       {davg('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""


@register(
    "tpch_q1",
    _Q1_SQL,
    bench=True,
    category="tpch",
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: full-scan groupBy with 8 aggregates.

    Single shuffle on the (low-cardinality) grouping keys; partial aggregation
    collapses each map partition to ~6 rows before the exchange, so the plan
    is scan-bound at any scale.
    """
    return spark.sql(_Q1_SQL)


# Join order: lineitem FIRST (stream side), dims joined into it — inner
# joins commute so values are identical in any order, but Spark (no CBO)
# plans the FROM clause left-deep, so the textual order decides which side
# each broadcast hash relation is BUILT from. customer-first made the
# 600k-row lineitem the build side of its join (a single-threaded driver
# build, ~40% of the replan wall — r10 s7 A/B); lineitem-first builds the
# filtered orders (~75k) and customer (~3k) instead: q3 replan 503->286 ms
# median. At 100 TB the order is ALSO right: lineitem<->orders runs first
# over the co-bucketed layout (exchange-free SMJ) before any dim join.
# DuckDB's optimizer reorders joins itself, so the shared oracle text is
# plan-neutral there (A/B'd flat).
# MERGE(orders) (r11): lineitem and orders are co-bucketed AND sorted on
# orderkey with exactly one file per bucket, and the session now exposes
# that sort order from the scan (session.py bucketedTableScan.outputOrdering)
# — so this join runs as a ZERO-exchange, ZERO-sort SMJ inside the scan
# stage instead of broadcasting the ~110k date-filtered orders rows (whose
# broadcast COLLECT job alone was 70-120 ms of every fresh plan; guide
# §3.1/§2.4). Interleaved A/B at sf0.1: median 375 -> 323 ms. DuckDB parses
# the hint as a comment, so the shared oracle text stays identical.
_Q3_SQL = f"""SELECT /*+ MERGE(orders) */ l_orderkey, {dsum(REVENUE)} AS revenue, CAST(o_orderdate AS DATE) AS odate
FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON c_custkey = o_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
ORDER BY revenue DESC, l_orderkey LIMIT 10"""


@register(
    "tpch_q3",
    _Q3_SQL,
    bench=True,
    category="tpch",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority: 3-way join.

    lineitem streams; orders (date-filtered) and customer (segment-filtered)
    join into it with no hint — both are SF-scaled, so AQE broadcasts them
    at small SF and shuffle-joins at 100 TB, where lineitem<->orders runs
    first over the co-bucketed orderkey layout (exchange-free). The same
    plan survives 100 TB; see the _Q3_SQL comment for the build-side
    rationale behind the textual join order.
    """
    return spark.sql(_Q3_SQL)


@register(
    "tpch_q4_semi",
    """SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    category="tpch",
)
def tpch_q4_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order priority checking via LEFT SEMI join (EXISTS).

    Semi join never duplicates or carries lineitem payload columns — the
    probe side streams, only the existence bit survives.
    """
    orders = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = spark.table("lineitem").filter(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# BROADCAST hint on the FIXED-cardinality dims only (region: 5 rows,
# nation: 25 at every TPC-H SF) — Spark honors it, DuckDB parses it as a
# comment; SF-scaled tables stay unhinted (AQE decides).
# lineitem-first for the same build-side reason as _Q3_SQL: the old
# customer-first text built the broadcast hash relation from ALL 600k
# lineitem rows (the largest single-threaded build in the bench — "Fresh-
# plan overhead attributed", OPTIMIZATION_r10.md); lineitem-first builds
# the date-filtered orders (~23k rows) and customer (15k) instead:
# q5 replan 625->444 ms median (r10 s7 A/B). Values identical (inner
# joins commute); same left-deep/bucketing rationale as _Q3_SQL.
_Q5_SQL = f"""SELECT /*+ BROADCAST(nation, region) */ n_name, {dsum(REVENUE)} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name ORDER BY revenue DESC, n_name"""


@register(
    "tpch_q5",
    _Q5_SQL,
    bench=True,
    category="tpch",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local supplier volume: 6-table star join.

    region/nation (fixed 5/25 rows) carry the explicit broadcast hint;
    supplier, customer and orders join with no hint (SF-scaled — AQE picks
    broadcast when they fit). lineitem streams (see _Q5_SQL comment): the
    lineitem<->orders join is fact-to-fact on l_orderkey and runs first
    over the co-bucketed layout — the correct physical shape at 100 TB.
    """
    return spark.sql(_Q5_SQL)


_Q6_SQL = f"""SELECT {dsum('l_extendedprice * l_discount')} AS revenue
FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""


@register(
    "tpch_q6",
    _Q6_SQL,
    bench=True,
    category="tpch",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast revenue change: pure scan + filter + scalar agg.

    All four predicates push into the parquet scan (PushedFilters); the
    aggregate is a single partial->final pair with no grouping key.
    """
    return spark.sql(_Q6_SQL)


@register(
    "tpch_q10_returns",
    f"""SELECT c_custkey, c_name, {dsum(REVENUE)} AS revenue, n_name
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1993-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name ORDER BY revenue DESC, c_custkey LIMIT 20""",
    category="tpch",
)
def tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting: fact->dim joins + top-k on aggregate.

    Window widened to 1993-10-01..1997-01-01 (r8, VERDICT r7 #3): dbgen
    correlates R/A return flags with receipt dates before mid-1995 while
    the driver fixture's R-flags populate 1996 — the old 1996Q4 window made
    the sf1 gate's row an empty-vs-empty match."""
    orders = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1993-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = spark.table("lineitem").filter(F.col("l_returnflag") == "R")
    cust = spark.table("customer")
    nation = spark.table("nation")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(_dsum(REVENUE, "revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# MERGE(orders) (r11): same zero-exchange/zero-sort SMJ move as _Q3_SQL —
# the unfiltered orders side here is 150k rows, the bench's LARGEST
# broadcast build (collectTime 90 ms + buildTime 52 ms per fresh plan);
# over the sorted co-bucketed layout the SMJ runs inside the scan stage and
# the (c_custkey, o_orderkey) aggregate stays exchange-free (hash(orderkey)
# satisfies the grouping). Interleaved A/B at sf0.1: median 325 -> 265 ms.
_Q18_SQL = f"""SELECT /*+ MERGE(orders) */ c_custkey, o_orderkey, {dsum('l_quantity')} AS total_qty
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, o_orderkey HAVING SUM(l_quantity) > 150
ORDER BY total_qty DESC, o_orderkey LIMIT 100"""


@register(
    "tpch_q18_big_orders",
    _Q18_SQL,
    bench=True,
    category="tpch",
)
def tpch_q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers: agg -> HAVING -> top-k (TakeOrdered)."""
    return spark.sql(_Q18_SQL)


register_q7 = register(
    "tpch_q7_volume",
    f"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year, {dsum(REVENUE)} AS revenue
FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
ORDER BY supp_nation, cust_nation, l_year""",
    category="tpch",
)


def tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping between two nations: disjunctive nation-pair filter
    applied post-join on two broadcast nation dims."""
    cutlo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    cuthi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    li = spark.table("lineitem").filter((F.col("l_shipdate") >= cutlo) & (F.col("l_shipdate") < cuthi))
    sup = spark.table("supplier")
    orders = spark.table("orders")
    cust = spark.table("customer")
    n1 = spark.table("nation").select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = spark.table("nation").select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    joined = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(_dsum(REVENUE, "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


register_q7(tpch_q7_volume)

register_q14 = register(
    "tpch_q14_promo",
    f"""SELECT CAST(CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
                 THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(28,6))) AS STRING) AS DOUBLE)
     / CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS STRING) AS DOUBLE) * 100.0 AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'""",
    category="tpch",
)


def tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue ratio: conditional aggregate over a broadcast dim
    join; the ratio of two exact decimal sums is one deterministic double op."""
    li = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01 00:00:00").cast("timestamp"))
    )
    part = spark.table("part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    num = F.expr(
        "CAST(CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) "
        "ELSE 0 END AS DECIMAL(28,6))) AS STRING) AS DOUBLE)"
    )
    den = F.expr("CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS STRING) AS DOUBLE)")
    return joined.agg((num / den * F.lit(100.0)).alias("promo_revenue"))


register_q14(tpch_q14_promo)

register_q19 = register(
    "tpch_q19_disjunct",
    f"""SELECT {dsum(REVENUE)} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""",
    category="tpch",
)


def tpch_q19_disjunct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue with disjunctive cross-table predicates — the
    filter can only apply post-join, but each disjunct's single-table parts
    still push into the scans."""
    li = spark.table("lineitem")
    part = spark.table("part")
    joined = li.join(part, part.p_partkey == li.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return joined.filter(cond).agg(_dsum(REVENUE, "revenue"))


register_q19(tpch_q19_disjunct)


# ---------------------------------------------------------------------------
# Round-2 completion: the remaining TPC-H query shapes, adapted to the fixture
# star schema (no partsupp table; lineitem has no shipmode/commit/receipt
# dates; part has no container/mfgr; customer has no phone). Each keeps the
# defining plan shape of its TPC-H original — that shape, not the literal
# column list, is what exercises the optimizer. Reference surface:
# SURVEY.md §2.7-2.8 (the join/agg/subquery families the reference delegates
# to DuckDB, resources/dwh-benchmark + tests/integration/frequently_used_queries).
# ---------------------------------------------------------------------------


register_q2 = register(
    "tpch_q2_mincost",
    """SELECT DISTINCT p_partkey, p_name, s_name, s_acctbal
FROM part JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE' AND p_size = 15
  AND s_acctbal = (SELECT MIN(s2.s_acctbal)
                   FROM lineitem l2 JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
                   JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
                   JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
                   WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, p_partkey, s_name LIMIT 100""",
    category="tpch",
)


def tpch_q2_mincost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-balance supplier per part (q2's correlated min-aggregate),
    adapted: lineitem is the part<->supplier relation (no partsupp), s_acctbal
    stands in for ps_supplycost.

    Plan shape: region->nation->supplier collapse to one broadcast dim; the
    correlated MIN decorrelates into a groupBy on p_partkey over the SAME
    distinct (part,supplier) pairs — computed once, reused for probe and
    threshold, so lineitem is scanned once per side with no repeated subquery
    execution per outer row.
    """
    region = spark.table("region").filter(F.col("r_name") == "EUROPE")
    nation = spark.table("nation").join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    supp = spark.table("supplier").join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    part = spark.table("part").filter(F.col("p_size") == 15)
    li = spark.table("lineitem").select("l_partkey", "l_suppkey")
    pairs = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp.select("s_suppkey", "s_name", "s_acctbal"), li.l_suppkey == F.col("s_suppkey"))
        .select("p_partkey", "p_name", "s_name", "s_acctbal")
        .distinct()
    )
    minbal = pairs.groupBy("p_partkey").agg(F.min("s_acctbal").alias("_minbal"))
    return (
        pairs.join(minbal, "p_partkey")
        .filter(F.col("s_acctbal") == F.col("_minbal"))
        .select("p_partkey", "p_name", "s_name", "s_acctbal")
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_name")
        .limit(100)
    )


register_q2(tpch_q2_mincost)


register_q8 = register(
    "tpch_q8_mktshare",
    """SELECT o_year,
       CAST(CAST(SUM(CAST(CASE WHEN nation = 'NATION_7' THEN volume ELSE 0 END AS DECIMAL(28,6))) AS STRING) AS DOUBLE)
       / CAST(CAST(SUM(CAST(volume AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS mkt_share
FROM (SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'
     ) all_nations
GROUP BY o_year ORDER BY o_year""",
    category="tpch",
)


def tpch_q8_mktshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share: conditional-sum ratio over an 8-table star join.

    All five dims (part, supplier, customer, nation x2, region) broadcast;
    the only shuffle join is lineitem<->orders on orderkey. The share is a
    ratio of two exact decimal sums per year (convention #1).
    """
    part = spark.table("part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    region = spark.table("region").filter(F.col("r_name") == "ASIA")
    n1 = spark.table("nation").join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")).select(
        F.col("n_nationkey").alias("n1_key")
    )
    n2 = spark.table("nation").select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    supp = spark.table("supplier").select("s_suppkey", "s_nationkey")
    cust = spark.table("customer").select("c_custkey", "c_nationkey")
    orders = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1996-12-31 00:00:00").cast("timestamp"))
    )
    li = spark.table("lineitem")
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"), "inner")
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.expr("l_extendedprice * (1 - l_discount)").alias("volume"),
            "nation",
        )
    )
    num = F.expr(
        "CAST(CAST(SUM(CAST(CASE WHEN nation = 'NATION_7' THEN volume ELSE 0 END AS DECIMAL(28,6))) AS STRING) AS DOUBLE)"
    )
    den = F.expr("CAST(CAST(SUM(CAST(volume AS DECIMAL(28,6))) AS STRING) AS DOUBLE)")
    return joined.groupBy("o_year").agg((num / den).alias("mkt_share")).orderBy("o_year")


register_q8(tpch_q8_mktshare)


register_q9 = register(
    "tpch_q9_profit",
    f"""SELECT nation, o_year, {dsum('amount')} AS sum_profit
FROM (SELECT n_name AS nation, year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity AS amount
      FROM part JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%') profit
GROUP BY nation, o_year ORDER BY nation, o_year DESC""",
    category="tpch",
)


def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (q9), adapted: supply cost proxied by
    0.5 * p_retailprice (no partsupp.ps_supplycost in the fixture schema).

    part is filtered by the LIKE before broadcasting — the filter prunes the
    build side, and lineitem rows drop at the (broadcast) join, before the
    orders shuffle join.
    """
    part = spark.table("part").filter(F.col("p_name").like("%red%")).select("p_partkey", "p_retailprice")
    supp = spark.table("supplier").select("s_suppkey", "s_nationkey")
    nation = spark.table("nation")
    orders = spark.table("orders").select("o_orderkey", "o_orderdate")
    li = spark.table("lineitem")
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.expr("l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity").alias("amount"),
        )
    )
    return (
        joined.groupBy("nation", "o_year")
        .agg(_dsum("amount", "sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


register_q9(tpch_q9_profit)


register_q11 = register(
    "tpch_q11_important",
    """SELECT l_partkey, CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS value
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_7'
GROUP BY l_partkey
HAVING SUM(CAST(l_extendedprice AS DECIMAL(28,6))) > (
    SELECT SUM(CAST(l_extendedprice AS DECIMAL(28,6))) * 0.0001
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7')
ORDER BY value DESC, l_partkey""",
    category="tpch",
)


def tpch_q11_important(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important stock (q11): HAVING against a scalar-subquery fraction of the
    global total, adapted to lineitem as the supply relation.

    The same filtered-and-joined frame feeds both the per-part aggregate and
    the global total; the threshold comparison stays in exact DECIMAL on both
    engines so boundary parts can't flip on FP noise. The 1-row total is a
    broadcast — no second shuffle.

    Fraction 0.0001 (r8, VERDICT r7 #3) — TPC-H q11's canonical numerator
    at SF=1: the old 0.0008 exceeded every per-part share at sf1 (max
    0.000166 of the nation total), making the sf1 gate's row vacuously
    empty; 0.0001 is non-vacuous at sf0.01, sf1, and sf10.
    """
    nation = spark.table("nation").filter(F.col("n_name") == "NATION_7")
    supp = spark.table("supplier").join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    li = spark.table("lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    base = li.join(supp.select("s_suppkey"), li.l_suppkey == F.col("s_suppkey"))
    per_part = base.groupBy("l_partkey").agg(
        F.expr("SUM(CAST(l_extendedprice AS DECIMAL(28,6)))").alias("_value_dec")
    )
    total = base.agg(F.expr("SUM(CAST(l_extendedprice AS DECIMAL(28,6))) * 0.0001").alias("_threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("_value_dec") > F.col("_threshold"))
        .select("l_partkey", F.col("_value_dec").cast("double").alias("value"))
        .orderBy(F.desc("value"), "l_partkey")
    )


register_q11(tpch_q11_important)


register_q12 = register(
    "tpch_q12_late",
    """SELECT l_returnflag AS ship_bucket,
       COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
       COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag ORDER BY l_returnflag""",
    category="tpch",
)


def tpch_q12_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority split (q12), adapted: 'late' = shipped more than 60
    days after order date (fixture lineitem has no commit/receipt dates or
    shipmode; l_returnflag stands in for the shipmode bucket).

    The date-window predicates push to the lineitem scan; the cross-table
    lateness predicate applies at the join. Conditional counts are one pass.
    """
    orders = spark.table("orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.expr("l_shipdate > o_orderdate + INTERVAL 60 DAY")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        joined.groupBy(F.col("l_returnflag").alias("ship_bucket"))
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


register_q12(tpch_q12_late)


register_q13 = register(
    "tpch_q13_custdist",
    """SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey) c_orders
GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    category="tpch",
)


def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (q13): LEFT join with an extra join
    predicate (the fixture's o_orderpriority filter replaces the original's
    o_comment NOT LIKE), double aggregation, customers with zero orders kept.

    COUNT(o_orderkey) over the null-extended rows yields 0 for order-less
    customers — the LEFT join is the semantics, not an optimization choice.
    """
    cust = spark.table("customer").select("c_custkey")
    orders = spark.table("orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey) & (orders.o_orderpriority != "4-NOT SPECIFIED"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


register_q13(tpch_q13_custdist)


register_q15 = register(
    "tpch_q15_topsupp",
    f"""WITH revenue0 AS (
    SELECT l_suppkey AS supplier_no, {dsum(REVENUE)} AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
ORDER BY s_suppkey""",
    category="tpch",
)


def tpch_q15_topsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (q15): the revenue view is built once and reused for both
    the probe and the MAX scalar (the original's CREATE VIEW, expressed as a
    shared DataFrame). Both sides derive the same exact-decimal double, so
    the equality join cannot miss on FP noise.
    """
    li = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    revenue0 = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(_dsum(REVENUE, "total_revenue"))
    maxrev = revenue0.agg(F.max("total_revenue").alias("_maxrev"))
    supp = spark.table("supplier").select("s_suppkey", "s_name")
    return (
        revenue0.join(F.broadcast(maxrev))
        .filter(F.col("total_revenue") == F.col("_maxrev"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


register_q15(tpch_q15_topsupp)


register_q16 = register(
    "tpch_q16_suppcnt",
    """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'MEDIUM%'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    category="tpch",
)


def tpch_q16_suppcnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier count per part group (q16), adapted: lineitem is the
    part<->supplier relation; the complaint-comment exclusion becomes a
    negative-balance exclusion.

    NOT IN over a provably null-free key column is a LEFT ANTI join — the
    excluded-supplier set broadcasts, nothing shuffles for the exclusion.
    COUNT(DISTINCT) expands to the standard two-phase distinct aggregation.
    """
    part = spark.table("part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("MEDIUM%")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    bad_supp = spark.table("supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = spark.table("lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


register_q16(tpch_q16_suppcnt)


register_q17 = register(
    "tpch_q17_smallqty",
    """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS STRING) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3' AND p_size = 5
  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""",
    category="tpch",
)


def tpch_q17_smallqty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (q17): correlated per-part average
    threshold (p_container replaced by p_size — not in the fixture schema).

    Decorrelation done explicitly the scale-right way: lineitem is first
    SEMI-joined to the ~|filtered parts| key set (broadcast), so the per-part
    AVG aggregates only the rows that can matter, instead of averaging every
    part in the table as a naive rewrite would. l_quantity values are small
    integers in doubles, so AVG is order-independent and engine-exact.
    """
    part = spark.table("part").filter((F.col("p_brand") == "Brand#3") & (F.col("p_size") == 5))
    pk = part.select("p_partkey")
    li = spark.table("lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    li_small = li.join(pk, li.l_partkey == pk.p_partkey, "left_semi")
    thresholds = li_small.groupBy(F.col("l_partkey").alias("_tk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("_qty_threshold")
    )
    return (
        li_small.join(thresholds, li_small.l_partkey == F.col("_tk"))
        .filter(F.col("l_quantity") < F.col("_qty_threshold"))
        .agg(F.expr("CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS STRING) AS DOUBLE) / 7.0").alias("avg_yearly"))
    )


register_q17(tpch_q17_smallqty)


register_q20 = register(
    "tpch_q20_supply",
    """SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE 'small%'
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_suppkey HAVING SUM(l_quantity) > 400)
ORDER BY s_suppkey""",
    category="tpch",
)


def tpch_q20_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excess-supply suppliers (q20), adapted: shipped quantity of 'small%'
    parts over a year replaces the partsupp availability check.

    IN (aggregated subquery) = LEFT SEMI join against the HAVING-filtered
    aggregate; supplier never duplicates and carries no lineitem payload.
    """
    part = spark.table("part").filter(F.col("p_name").like("small%")).select("p_partkey")
    li = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    qualified = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 400)
        .select("l_suppkey")
    )
    supp = spark.table("supplier")
    return (
        supp.join(qualified, supp.s_suppkey == qualified.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


register_q20(tpch_q20_supply)


register_q21 = register(
    "tpch_q21_waiting",
    """WITH lo AS (
    SELECT l_orderkey, l_suppkey,
           CASE WHEN l_shipdate > o_orderdate + INTERVAL 75 DAY THEN 1 ELSE 0 END AS is_late
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE o_orderstatus = 'F'),
per_supp AS (
    SELECT l_orderkey, l_suppkey, MAX(is_late) AS supp_late
    FROM lo GROUP BY l_orderkey, l_suppkey),
per_order AS (
    SELECT l_orderkey, COUNT(*) AS n_supp, SUM(supp_late) AS n_late
    FROM per_supp GROUP BY l_orderkey)
SELECT s_name, COUNT(*) AS numwait
FROM per_supp JOIN per_order USING (l_orderkey)
JOIN supplier ON s_suppkey = l_suppkey
WHERE supp_late = 1 AND n_supp > 1 AND n_late = 1
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""",
    category="tpch",
)


def tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (q21): the only late supplier in a
    multi-supplier finalized order. Adapted lateness = shipped >75 days after
    the order date (no receipt/commit dates in the fixture).

    The EXISTS / NOT EXISTS pair of the original decorrelates into one
    per-(order,supplier) aggregate + one per-order aggregate over it; both
    group on l_orderkey, so the second groupBy and the rejoin reuse the first
    shuffle's partitioning — one exchange total on the fact. supplier is a
    broadcast dim at the end, after the data has collapsed to order grain.
    """
    orders = spark.table("orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    li = spark.table("lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        F.expr("CASE WHEN l_shipdate > o_orderdate + INTERVAL 75 DAY THEN 1 ELSE 0 END").alias("is_late"),
    )
    per_supp = lo.groupBy("l_orderkey", "l_suppkey").agg(F.max("is_late").alias("supp_late"))
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"), F.sum("supp_late").alias("n_late")
    )
    supp = spark.table("supplier").select("s_suppkey", "s_name")
    waiting = (
        per_supp.join(per_order, "l_orderkey")
        .filter((F.col("supp_late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        waiting.groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


register_q21(tpch_q21_waiting)


register_q22 = register(
    "tpch_q22_opportunity",
    f"""WITH avg_bal AS (
    SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS STRING) AS DOUBLE) / COUNT(*) AS a
    FROM customer
    WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust, {dsum('c_acctbal')} AS totacctbal
FROM customer, avg_bal
WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13) AND c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY c_nationkey ORDER BY cntrycode""",
    category="tpch",
)


def tpch_q22_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sales opportunity (q22): above-average-balance customers with no
    recent orders. Adapted: c_nationkey is the country code (no c_phone in the
    fixture), 'no orders at all' relaxed to 'no orders since 1999' (the
    fixture generator gives every customer at least one order).

    The average is an exact-decimal scalar broadcast into the filter; the
    NOT EXISTS is a LEFT ANTI join against the date-filtered, deduplicated
    custkey set — at scale the anti-join build side is small enough to
    broadcast once the date filter + distinct collapse it to unique keys.
    """
    nk = [1, 3, 5, 7, 9, 11, 13]
    cust = spark.table("customer").filter(F.col("c_nationkey").isin(nk))
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.expr("CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS STRING) AS DOUBLE) / COUNT(*)").alias("_a")
    )
    recent = (
        spark.table("orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_a"))
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(F.count("*").alias("numcust"), _dsum("c_acctbal", "totacctbal"))
        .orderBy("cntrycode")
    )


register_q22(tpch_q22_opportunity)
