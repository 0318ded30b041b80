"""Remaining TPC-H query shapes (q2, q7-q12, q15, q16, q20, q21),
completing the 22-query relational surface (SURVEY.md §2 EXT tier).

The fixture schema is a TPC-H subset: there is no `partsupp` table and
lineitem lacks shipmode/commitdate/receiptdate. Queries that need the
part-supplier relation derive it from ``SELECT DISTINCT l_partkey,
l_suppkey FROM lineitem`` (one shuffle; in a real deployment partsupp
would be a stored dimension), and date-lateness predicates use
``l_shipdate > o_orderdate + INTERVAL`` instead of receipt/commit
dates. Each query preserves the *plan shape* that makes the original
hard: correlated scalar subqueries (q2), two-sided nation filters
(q7), conditional-aggregate ratios (q8), HAVING vs a global scalar
(q11), double-correlated EXISTS/NOT EXISTS self-joins (q21).

FP determinism follows operators/relational.py: money sums go through
DECIMAL(18,2) and are cast to DOUBLE once; ratios divide two exact
sums a single time.

Reference parity note: the reference engine (GingerBear/
map-reduce-indexing, helper_reduce.c:153) has only COUNT-GROUP-BY;
this module is part of the EXT relational surface SURVEY.md §2 calls
for beyond it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..localrel import local_rows_df
from ..plans.registry import register
from ..sources.artifacts import session_artifact_path
from ..sources.tables import load_table, register_views
from .relational import dec, dsum, sql_dec, sql_dsum

_REV = "l_extendedprice * (1 - l_discount) exact-decimal revenue"


def _revenue() -> F.Column:
    return dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))


def _sql_revenue() -> str:
    return f"{sql_dec('l_extendedprice')} * (1 - {sql_dec('l_discount')})"


def _ps_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived part-supplier relation (stand-in for partsupp).

    One distinct-shuffle on (partkey, suppkey); at 100 TB this would be
    a stored dimension maintained incrementally, not re-derived.
    """
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )


_SQL_PS = "(SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)"


@register(
    "rel_q2_min_balance_supplier",
    oracle=f"""
        WITH ps AS {_SQL_PS}
        SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
        FROM part, supplier, ps, nation, region
        WHERE p_partkey = ps.l_partkey AND s_suppkey = ps.l_suppkey
          AND p_size = 10 AND p_type = 'SMALL'
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'EUROPE'
          AND s_acctbal = (
              SELECT MIN(s_acctbal)
              FROM supplier s2, ps ps2, nation n2, region r2
              WHERE p_partkey = ps2.l_partkey AND s2.s_suppkey = ps2.l_suppkey
                AND s2.s_nationkey = n2.n_nationkey
                AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
    """,
    tier="relational",
    doc="TPC-H q2 shape (correlated scalar MIN subquery): for each "
    "SMALL size-10 part, its European supplier(s) with the minimum "
    "account balance among that part's European suppliers (min-cost-"
    "supplier pattern; acctbal stands in for the missing "
    "ps_supplycost). Catalyst decorrelates the per-part MIN into an "
    "aggregate + equi-join on partkey — one extra shuffle, not "
    "O(parts) probes. Equality is on stored doubles (no arithmetic), "
    "so it is exact. partsupp derived per module docstring.",
)
def q2_min_balance_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("part", "supplier", "lineitem", "nation", "region"))
    return spark.sql(
        f"""
        WITH ps AS {_SQL_PS}
        SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
        FROM part, supplier, ps, nation, region
        WHERE p_partkey = ps.l_partkey AND s_suppkey = ps.l_suppkey
          AND p_size = 10 AND p_type = 'SMALL'
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'EUROPE'
          AND s_acctbal = (
              SELECT MIN(s2.s_acctbal)
              FROM supplier s2, ps ps2, nation n2, region r2
              WHERE p_partkey = ps2.l_partkey AND s2.s_suppkey = ps2.l_suppkey
                AND s2.s_nationkey = n2.n_nationkey
                AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
        """
    )


@register(
    "rel_q7_nation_volume",
    oracle=f"""
        SELECT supp_nation, cust_nation, l_year,
               {sql_dsum('volume', 'revenue')}
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   {_sql_revenue()} AS volume
            FROM supplier, lineitem, orders, customer, nation n1, nation n2
            WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
              AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
              AND c_nationkey = n2.n_nationkey
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
    """,
    tier="relational",
    doc="TPC-H q7 shape (two-sided nation-pair filter): shipping volume "
    "between two nations, both directions, by ship year. The "
    "disjunctive pair predicate cannot be pushed to either scan alone; "
    "Spark broadcasts supplier/customer/nation so the only big-big "
    "join is lineitem-orders on orderkey, then filters the pair "
    "post-join — the same single-shuffle plan the hand-optimized "
    "original wants.",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dsum(_revenue(), "revenue"))
    )


@register(
    "rel_q8_market_share",
    oracle=f"""
        SELECT o_year,
               CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE) AS mkt_share
        FROM (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   {_sql_revenue()} AS volume,
                   n2.n_name AS supp_nation
            FROM part, supplier, lineitem, orders, customer,
                 nation n1, nation n2, region
            WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
              AND l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND c_nationkey = n1.n_nationkey
              AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
              AND s_nationkey = n2.n_nationkey
              AND p_type = 'STANDARD'
        ) all_nations
        GROUP BY o_year
    """,
    tier="relational",
    doc="TPC-H q8 shape (market-share ratio): NATION_3's share of "
    "STANDARD-part revenue sold into ASIA, per order year. Numerator "
    "and denominator are exact decimal sums cast to double, divided "
    "once — bit-stable across partitionings. Five broadcast dims; "
    "lineitem-orders is the only shuffle join.",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n_cust = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    n_supp = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    zero = F.lit(0).cast("decimal(18,2)")
    vol = _revenue()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("nc_key"))
        .join(F.broadcast(region), F.col("nc_region") == region.r_regionkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("ns_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(zero)).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


@register(
    "rel_q9_product_type_revenue",
    oracle=f"""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
               {sql_dsum(_sql_revenue(), 'sum_revenue')}
        FROM part, supplier, lineitem, orders, nation
        WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
          AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
          AND p_name LIKE '%red%'
        GROUP BY n_name, year(o_orderdate)
    """,
    tier="relational",
    doc="TPC-H q9 shape (product-line profit by nation and year; "
    "revenue stands in for profit since the fixture has no "
    "ps_supplycost): LIKE-filtered part dim broadcast into lineitem, "
    "supplier nation attached, grouped on (nation, order year). The "
    "'%red%' contains-LIKE cannot prune the scan, but the broadcast "
    "semi-filtering keeps post-join cardinality low before the "
    "group-by shuffle.",
)
def q9_product_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(_revenue(), "sum_revenue"))
    )


@register(
    "rel_q10_returned_items",
    oracle=f"""
        SELECT c_custkey, c_name, {sql_dsum(_sql_revenue(), 'revenue')},
               c_acctbal, n_name, c_mktsegment
        FROM customer, orders, lineitem, nation
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
        ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    tier="relational",
    doc="TPC-H q10 shape (returned-item reporting): top-20 customers by "
    "revenue lost to returns in a quarter. Both date predicates push "
    "to the orders scan; the final top-k is TakeOrderedAndProject "
    "(per-partition heaps), with c_custkey as a deterministic "
    "tie-break so the LIMIT boundary is stable for the oracle hash.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(dsum(_revenue(), "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name", "c_mktsegment")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "rel_q11_important_parts",
    oracle=f"""
        WITH euro_li AS (
            SELECT l_partkey, {sql_dec('l_extendedprice')} AS v
            FROM lineitem, supplier, nation, region
            WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
              AND n_regionkey = r_regionkey AND r_name = 'EUROPE')
        SELECT l_partkey, CAST(SUM(v) AS DOUBLE) AS part_value
        FROM euro_li
        GROUP BY l_partkey
        HAVING SUM(v) > (SELECT SUM(v) * 0.001 FROM euro_li)
    """,
    tier="relational",
    doc="TPC-H q11 shape (group HAVING vs a global scalar subquery): "
    "parts whose European-supplied revenue exceeds 0.1% of the total. "
    "The scalar total is one tiny broadcast job; the HAVING compares "
    "exact decimal sums (threshold multiply is decimal x decimal, "
    "exact), so the cut is bit-deterministic. Scale: the euro_li "
    "intermediate is computed twice at sf-test size; at 100 TB it "
    "would be cached/CTE-materialized — both sums remain one shuffle "
    "each on partkey.",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    euro = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("l_partkey", dec("l_extendedprice").alias("v"))
    )
    total = euro.agg((F.sum("v") * F.lit(0.001).cast("decimal(4,3)")).alias("thresh"))
    return (
        euro.groupBy("l_partkey")
        .agg(F.sum("v").alias("sv"))
        .join(F.broadcast(total))
        .filter(F.col("sv") > F.col("thresh"))
        .select("l_partkey", F.col("sv").cast("double").alias("part_value"))
    )


@register(
    "rel_q12_priority_lines",
    oracle="""
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders, lineitem
        WHERE o_orderkey = l_orderkey
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_linestatus
    """,
    tier="relational",
    doc="TPC-H q12 shape (dual conditional counts per code column; "
    "l_linestatus stands in for the missing l_shipmode): urgent vs "
    "non-urgent line counts for a ship year. The year predicate "
    "pushes to the lineitem scan; the CASE counts are map-side "
    "partial aggregates over a 2-value group key.",
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "rel_q15_top_supplier",
    oracle=f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   {sql_dsum(_sql_revenue(), 'total_revenue')}
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier, revenue
        WHERE s_suppkey = supplier_no
          AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    tier="relational",
    doc="TPC-H q15 shape (view + scalar MAX subquery): the supplier(s) "
    "with the maximum quarterly revenue. The revenue view aggregates "
    "exact decimals cast to double once, so the MAX-equality compares "
    "identical bit patterns in both engines. Spark evaluates the "
    "scalar max as a one-row broadcast and reuses the aggregated "
    "view on both sides.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(_revenue(), "total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "rel_q16_supplier_part_count",
    oracle=f"""
        WITH ps AS {_SQL_PS}
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM ps, part
        WHERE p_partkey = ps.l_partkey
          AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
          AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
          AND ps.l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
    """,
    tier="relational",
    doc="TPC-H q16 shape (supplier count per part spec with NOT IN "
    "exclusion; negative-balance suppliers stand in for the "
    "complaints LIKE filter): distinct suppliers per (brand, type, "
    "size) over the derived part-supplier pairs. The NOT IN becomes "
    "a broadcast left-anti join (the exclusion set is tiny); "
    "COUNT DISTINCT expands then collapses on the group key — two "
    "shuffles, both on low-cardinality keys.",
)
def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _ps_pairs(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(F.broadcast(bad_supp), ps.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "rel_q20_excess_suppliers",
    oracle=f"""
        SELECT s_suppkey, s_name
        FROM supplier, nation
        WHERE s_nationkey = n_nationkey AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
          AND s_suppkey IN (
              SELECT l_suppkey FROM lineitem
              WHERE l_partkey IN (
                  SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
                AND l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1997-01-01'
              GROUP BY l_suppkey, l_partkey
              HAVING SUM({sql_dec('l_quantity')}) > 50)
    """,
    tier="relational",
    doc="TPC-H q20 shape (nested IN subqueries -> semi-join chain): "
    "suppliers in three nations who shipped more than 50 units of "
    "any red part in 1996 (shipped-quantity threshold stands in for "
    "the missing ps_availqty excess-stock rule). Catalyst turns both "
    "INs into left-semi joins; the inner HAVING aggregates exact "
    "decimal quantities on (suppkey, partkey) — one shuffle — and "
    "the part filter broadcasts.",
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    red_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    heavy = (
        li.join(F.broadcast(red_parts), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    nation = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
        .select("n_nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey, "left_semi")
        .join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


@register(
    "rel_q21_waiting_suppliers",
    oracle="""
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM supplier, lineitem l1, orders, nation
        WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3, orders o3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND o3.o_orderkey = l3.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
          AND s_nationkey = n_nationkey AND n_name = 'NATION_1'
        GROUP BY s_name
        ORDER BY numwait DESC, s_name LIMIT 20
    """,
    tier="relational",
    doc="TPC-H q21 shape (double-correlated EXISTS / NOT EXISTS "
    "self-joins on lineitem): NATION_1 suppliers who alone shipped "
    "late (>60 days after order date; stands in for the missing "
    "receipt/commit dates) on finished multi-supplier orders. "
    "Catalyst decorrelates both subqueries into a left-semi and a "
    "left-anti join on orderkey, so the three lineitem passes "
    "co-partition on one key — no per-row probing. Expressed via "
    "SQL to exercise the decorrelation path end-to-end.",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("supplier", "lineitem", "orders", "nation"))
    return spark.sql(
        """
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier, lineitem l1, orders, nation
        WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3, orders o3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND o3.o_orderkey = l3.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
          AND s_nationkey = n_nationkey AND n_name = 'NATION_1'
        GROUP BY s_name
        ORDER BY numwait DESC, s_name LIMIT 20
        """
    )


# ---------------------------------------------------------------------------
# Bucketed-layout join: the co-location primitive demonstrated end to end
# ---------------------------------------------------------------------------


@register(
    "rel_bucketed_join_agg",
    oracle="""
        SELECT o.o_orderpriority AS priority,
               CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderpriority
    """,
    tier="relational",
    doc="The orders-lineitem join served from BUCKETED tables "
    "(sources/layout.py:bucketed_fact_tables — bucketBy(8, orderkey) + "
    "sortBy at write time): both scans already satisfy the join's hash "
    "distribution, so the sort-merge join runs with ZERO exchange on "
    "either input (plan-asserted in tests/test_layout.py — the only "
    "Exchange in the plan is the 5-key aggregation after the join; the "
    "scans carry SelectedBucketsCount). At 100 TB the fact-fact "
    "orderkey shuffle is the warehouse's single largest exchange; "
    "bucketed layout pays it once at write and amortizes it over every "
    "later join — the brief's 'bucketing for co-located joins' made "
    "concrete. Results are layout-independent, so the oracle is the "
    "plain parquet join.",
)
def q_rel_bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.layout import bucketed_fact_tables

    orders_t, lineitem_t = bucketed_fact_tables(spark, sf_dir)
    o = spark.table(orders_t).select("o_orderkey", "o_orderpriority")
    li = spark.table(lineitem_t).select("l_orderkey", "l_quantity")
    # merge hint: at small SF AQE would broadcast orders and hide the
    # co-location property this query exists to demonstrate; the hint
    # forces the sort-merge plan the join takes at fact-fact scale.
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Generation-manifest data plane: file-skipping scans and incremental
# materialized aggregates (round 9 second wave)
# ---------------------------------------------------------------------------

import os as _os


def _orders_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders columns the snapshot demos store, with the money
    column pre-cast to exact decimal (the house FP discipline applied
    at WRITE time, so every downstream partial aggregate is exact)."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_orderdate",
        dec("o_totalprice").alias("price_dec"),
    )


def orders_snapshot_store(spark: SparkSession, sf_dir: str) -> str:
    """Orders range-clustered by o_orderdate into a generations-managed
    store, built once per (application, corpus content): publishing
    records per-file footer min/max in the generation manifest, so a
    date-predicate read prunes files from ONE metadata lookup with no
    listing and no footer opens (sources/generations.py:
    plan_generation_scan)."""
    from ..sources.generations import publish_generation
    from ..sources.layout import write_range_clustered

    def build(path: str) -> None:
        write_range_clustered(
            _orders_projected(spark, sf_dir), "o_orderdate", path, 16
        )
        # date range pruning via footer min/max; POINT lookups on the
        # unclustered key via per-file bloom sidecars (every file's
        # orderkey range covers every key — bounds can't prune those)
        publish_generation(path, bloom_cols=["o_orderkey"])

    return session_artifact_path(
        spark, sf_dir, "orders_snapshot_store", "orders.parquet", build
    )


@register(
    "rel_snapshot_pruned_scan",
    oracle="""
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                              AND TIMESTAMP '1996-12-31'
        GROUP BY 1
    """,
    tier="relational",
    doc="A date-range monthly rollup served from a generations-managed "
    "range-clustered store via MANIFEST-LEVEL file skipping: publish "
    "records each immutable file's footer min/max in "
    "_generations.json, and the read prunes the file list planner-side "
    "from that one JSON read — no directory listing, no per-file "
    "footer fetch (sources/generations.py:plan_generation_scan; "
    "pruned-file-count and exactness asserted in "
    "tests/test_skipping.py). At 100 TB / ~1M files this is the "
    "Iceberg-manifest move: per-query metadata cost goes from O(files) "
    "footer reads to one manifest scan, on top of the row-group "
    "skipping the clustered layout already buys. The oracle is the "
    "layout-independent full-table filter, so the hash match also "
    "proves pruning dropped only provably-empty files.",
)
def q_rel_snapshot_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from ..sources.generations import read_generation

    path = orders_snapshot_store(spark, sf_dir)
    lo = datetime.datetime(1996, 1, 1)
    hi = datetime.datetime(1996, 12, 31)
    df = read_generation(
        spark, path, where=[("o_orderdate", "between", (lo, hi))]
    )
    return df.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("price_dec", "total_price"),
    )


def orders_matview_demo(spark: SparkSession, sf_dir: str) -> str:
    """The incremental-view-maintenance lifecycle, built once per
    (application, corpus content): 70% of orders (o_orderkey % 10 < 7)
    becomes generation 1 of a managed base store and the per-priority
    partial-aggregate view is materialized against it; the remaining
    30% is appended (generation 2) and `refresh_matview` advances the
    view by scanning ONLY the appended files (operators/matview.py).
    The exported query then reads the refreshed view — its oracle is
    the full-table aggregate, so the external hash match certifies
    incremental == full recompute."""
    from ..sources.generations import publish_generation
    from .matview import create_matview, refresh_matview

    def build(path: str) -> None:
        base = _os.path.join(path, "base")
        view = _os.path.join(path, "view")
        o = _orders_projected(spark, sf_dir)
        o.filter(F.col("o_orderkey") % 10 < 7).coalesce(4).write.parquet(base)
        publish_generation(base)
        create_matview(
            spark,
            base,
            view,
            ["o_orderpriority"],
            {
                "n_orders": ("count", "*"),
                "total_price": ("sum", "price_dec"),
                "first_order": ("min", "o_orderdate"),
                "last_order": ("max", "o_orderdate"),
            },
            row_keys=["o_orderkey"],
        )
        o.filter(F.col("o_orderkey") % 10 >= 7).coalesce(2).write.mode(
            "append"
        ).parquet(base)
        publish_generation(base)
        refresh_matview(spark, view)

    return session_artifact_path(
        spark, sf_dir, "orders_matview_demo", "orders.parquet", build
    )


@register(
    "rel_matview_refresh",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price,
               MIN(o_orderdate) AS first_order,
               MAX(o_orderdate) AS last_order
        FROM orders GROUP BY o_orderpriority
    """,
    tier="relational",
    doc="An INCREMENTALLY MAINTAINED materialized aggregate: the "
    "per-priority view is built over generation 1 of a managed base "
    "store (70% of orders), the other 30% is appended as generation 2, "
    "and refresh merges the partial aggregates of ONLY the appended "
    "files into the stored partials (operators/matview.py — counts and "
    "sums add, min/max combine; delta-file-only scan asserted in "
    "tests/test_matview.py). The oracle aggregates the FULL table, so "
    "the external hash match is an end-to-end proof that incremental "
    "maintenance equals full recompute. At 100 TB with daily appends "
    "this turns every dashboard refresh from a corpus scan into a scan "
    "of one day's files — the lakehouse materialized-view pattern on "
    "the repo's own snapshot tier.",
)
def q_rel_matview_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .matview import read_matview

    root = orders_matview_demo(spark, sf_dir)
    v = read_matview(spark, _os.path.join(root, "view"))
    return v.select(
        F.col("o_orderpriority").alias("priority"),
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
        "first_order",
        "last_order",
    )


def orders_matview_distinct_demo(spark: SparkSession, sf_dir: str) -> str:
    """The distinct-count IVM lifecycle, built once per (application,
    corpus content): orders projected to (priority, month, custkey,
    price) with 70% (o_orderkey % 10 < 7) as generation 1, a
    (priority, month)-keyed view materialized against it including a
    COUNT(DISTINCT o_custkey) — maintained EXACTLY via the auxiliary
    support table (operators/matview.py) — then the remaining 30%
    appended (generation 2) and the view refreshed delta-only. Serves
    BOTH exported queries: the view read at its own grain and the
    rollup routed to the coarser month grain."""
    from ..sources.generations import publish_generation
    from .matview import create_matview, refresh_matview

    def build(path: str) -> None:
        base = _os.path.join(path, "base")
        view = _os.path.join(path, "view")
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_orderpriority",
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            dec("o_totalprice").alias("price_dec"),
        )
        o.filter(F.col("o_orderkey") % 10 < 7).coalesce(4).write.parquet(base)
        publish_generation(base)
        create_matview(
            spark,
            base,
            view,
            ["o_orderpriority", "month"],
            {
                "n_orders": ("count", "*"),
                "total_price": ("sum", "price_dec"),
                "n_custs": ("count_distinct", "o_custkey"),
            },
            row_keys=["o_orderkey"],
        )
        o.filter(F.col("o_orderkey") % 10 >= 7).coalesce(2).write.mode(
            "append"
        ).parquet(base)
        publish_generation(base)
        refresh_matview(spark, view)

    return session_artifact_path(
        spark, sf_dir, "orders_matview_distinct_demo", "orders.parquet", build
    )


@register(
    "rel_matview_distinct",
    oracle="""
        SELECT o_orderpriority AS priority,
               strftime(o_orderdate, '%Y-%m') AS month,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
        FROM orders GROUP BY 1, 2
    """,
    tier="relational",
    doc="COUNT(DISTINCT) under incremental view maintenance — the "
    "textbook NON-distributive aggregate: the view stores an auxiliary "
    "SUPPORT table ((group, value) -> row count, itself a sum-monoid) "
    "and serves the distinct count as the support's per-group size "
    "(operators/matview.py). Customers ordering in BOTH the 70% base "
    "and the 30% appended delta must not double-count — the oracle "
    "aggregates the full table, so the external hash match proves the "
    "support-merge dedups exactly. The support is (group x distinct "
    "value)-sized — the answer's own size, never the base's row count; "
    "at 100 TB the refresh still scans one day's files.",
)
def q_rel_matview_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .matview import read_matview

    root = orders_matview_distinct_demo(spark, sf_dir)
    v = read_matview(spark, _os.path.join(root, "view"))
    return v.select(
        F.col("o_orderpriority").alias("priority"),
        "month",
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
        F.col("n_custs").cast("long").alias("n_custs"),
    )


@register(
    "rel_matview_rollup_route",
    oracle="""
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
        FROM orders GROUP BY 1
    """,
    tier="relational",
    doc="MATERIALIZED-VIEW ROUTING (the Calcite lattice rewrite): a "
    "GROUP BY month is answered from the (priority, month)-keyed "
    "view's stored partials alone — counts/sums re-add, the distinct "
    "customer count re-counts the support projected to the month key "
    "(operators/matview.py:rollup_matview). A customer ordering under "
    "several priorities within a month collapses to ONE in the "
    "re-count — summing per-group distinct counts would be wrong, and "
    "the full-table oracle certifies the dedup. The routed query "
    "touches group-cardinality-sized state; the base is never scanned "
    "— at 100 TB that is the entire point of maintaining the view.",
)
def q_rel_matview_rollup_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .matview import rollup_matview

    root = orders_matview_distinct_demo(spark, sf_dir)
    r = rollup_matview(spark, _os.path.join(root, "view"), ["month"])
    return r.select(
        "month",
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
        F.col("n_custs").cast("long").alias("n_custs"),
    )


def lineitem_orders_join_matview_demo(spark: SparkSession, sf_dir: str) -> str:
    """The JOIN-IVM lifecycle (round 10), built once per (application,
    corpus content): a lineitem FACT store (70% by l_orderkey as
    generation 1) joined to an orders DIM store (80% by o_orderkey as
    generation 1), with a per-priority aggregate view materialized
    over FACT ⋈ DIM. Then: the remaining 30% of lineitem appended →
    refresh #1 consumes ΔF ⋈ dim (delta files only — dims stable, no
    other term in the telescoping sum); the remaining 20% of orders
    appended → refresh #2 consumes F@new ⋈ ΔD, which must BACKFILL
    every pre-existing fact row whose order was invisible to the
    inner join until its dim row arrived. Both refreshes are
    incremental (mode asserted); the exported query's oracle is the
    FULL lineitem ⋈ orders aggregate, so the external hash match
    certifies the telescoping delta rule end-to-end
    (operators/matview.py:create_matview_join)."""
    from ..sources.generations import publish_generation
    from .matview import create_matview_join, refresh_matview

    def build(path: str) -> None:
        fact = _os.path.join(path, "fact")
        dim = _os.path.join(path, "dim")
        view = _os.path.join(path, "view")
        li = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("orderkey"),
            dec("l_quantity").alias("qty_dec"),
            (_revenue()).alias("rev_dec"),
        )
        o = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderpriority").alias("priority"),
        )
        li.filter(F.col("orderkey") % 10 < 7).coalesce(4).write.parquet(fact)
        publish_generation(fact)
        o.filter(F.col("orderkey") % 5 < 4).coalesce(2).write.parquet(dim)
        publish_generation(dim)
        create_matview_join(
            spark,
            view,
            fact,
            [{"path": dim, "on": ["orderkey"], "select": ["priority"]}],
            ["priority"],
            {
                "n_items": ("count", "*"),
                "total_qty": ("sum", "qty_dec"),
                "total_rev": ("sum", "rev_dec"),
                "n_orders": ("count_distinct", "orderkey"),
            },
        )
        li.filter(F.col("orderkey") % 10 >= 7).coalesce(2).write.mode(
            "append"
        ).parquet(fact)
        publish_generation(fact)
        r1 = refresh_matview(spark, view)
        assert r1["mode"] == "incremental", r1  # ΔF ⋈ dim, fact files only
        o.filter(F.col("orderkey") % 5 >= 4).coalesce(1).write.mode(
            "append"
        ).parquet(dim)
        publish_generation(dim)
        r2 = refresh_matview(spark, view)
        assert r2["mode"] == "incremental", r2  # F@new ⋈ ΔD backfill

    return session_artifact_path(
        spark,
        sf_dir,
        "lineitem_orders_join_matview_demo",
        "lineitem.parquet",
        build,
    )


def orders_delete_demo(spark: SparkSession, sf_dir: str) -> str:
    """The predicate-DELETE lifecycle (round 10), built once per
    (application, corpus content): orders range-clustered by
    o_orderdate into a generations store, then every 1996 order is
    DELETED (sources/generations.py:delete_rows — the copy-on-write
    form: manifest stats prune the listing to the date-overlapping
    files, only those rewrite, survivors hardlink with their stats
    intact, and the result publishes as a new generation). The build
    asserts the delete actually pruned (rewritten < total files) and
    that the full pre-delete snapshot is still pinned readable."""
    from ..sources.generations import (
        delete_rows,
        generation_row_count,
        publish_generation,
        read_generation,
    )
    from ..sources.layout import write_range_clustered

    def build(path: str) -> None:
        base = _os.path.join(path, "base")
        write_range_clustered(
            _orders_projected(spark, sf_dir), "o_orderdate", base, 16
        )
        publish_generation(base)
        pre = generation_row_count(base)
        report = delete_rows(
            spark,
            base,
            [("o_orderdate", "between", ("1996-01-01", "1996-12-31"))],
        )
        # the clustered layout makes the delete file-pruned: most
        # files are provably 1996-free and survive as hardlinks
        assert 0 < report["rewritten_files"] < 16, report
        assert report["deleted_rows"] > 0, report
        # snapshot isolation: the pre-delete generation still serves
        # every row (cheap metadata-only check)
        assert generation_row_count(base, at=report["generation"] - 1) == pre
        assert read_generation(spark, base).filter(
            F.col("o_orderdate").between("1996-01-01", "1996-12-31 23:59:59")
        ).limit(1).count() == 0

    return session_artifact_path(
        spark, sf_dir, "orders_delete_demo", "orders.parquet", build
    )


@register(
    "rel_delete_rows",
    oracle="""
        SELECT EXTRACT(year FROM o_orderdate) AS year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE o_orderdate NOT BETWEEN TIMESTAMP '1996-01-01'
                                  AND TIMESTAMP '1996-12-31'
        GROUP BY 1
    """,
    tier="relational",
    doc="Row-level predicate DELETE as a store operation "
    "(sources/generations.py:delete_rows — retention/GDPR erasure in "
    "copy-on-write form): every 1996 order is deleted from the "
    "range-clustered generations store, where the manifest's footer "
    "stats prune the rewrite to the date-overlapping files (asserted "
    "<16 in the build) while survivors hardlink untouched with their "
    "stats and blooms carried by rel+size; the result publishes as a "
    "new generation, the pre-delete snapshot stays pinned-readable "
    "(asserted), generation_changes emits the deleted rows, and a "
    "matview across the span rebuilds exactly (tests/test_delete.py). "
    "The oracle aggregates the full table MINUS the predicate, so the "
    "external hash match proves the delete removed exactly the "
    "matching rows and nothing else. At 100 TB a one-tenant/one-year "
    "erasure rewrites that slice's files, never the store.",
)
def q_rel_delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import read_generation

    root = orders_delete_demo(spark, sf_dir)
    df = read_generation(spark, _os.path.join(root, "base"))
    return df.groupBy(
        F.year("o_orderdate").cast("long").alias("year")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("price_dec", "total_price"),
    )


def orders_upsert_demo(spark: SparkSession, sf_dir: str) -> str:
    """The store-level MERGE lifecycle (round 10), built once per
    (application, corpus content): 90% of orders (o_orderkey % 10 < 9)
    published as generation 1, then ONE upsert whose updates frame
    carries both kinds of rows — the missing 10% (INSERTS) and a
    repriced copy of the %10==0 slice (REPLACEMENTS, price doubled).
    `upsert_rows` (sources/generations.py) prunes the rewrite via the
    updates' key bounds, replaces matched rows wholesale via one
    left-anti join, lands the updates as fresh files, and publishes.
    The build asserts the exact updated/inserted counts and that the
    pre-merge generation still serves the 90% row set."""
    from ..sources.generations import (
        generation_row_count,
        publish_generation,
        upsert_rows,
    )

    def build(path: str) -> None:
        base = _os.path.join(path, "base")
        o = _orders_projected(spark, sf_dir)
        o.filter(F.col("o_orderkey") % 10 < 9).coalesce(4).write.parquet(base)
        publish_generation(base)
        pre_rows = generation_row_count(base)
        updates = o.filter(F.col("o_orderkey") % 10 == 9).unionByName(
            o.filter(F.col("o_orderkey") % 10 == 0).withColumn(
                # cast back: decimal arithmetic widens, and upsert_rows
                # refuses type drift (one generation, one physical type)
                "price_dec",
                (F.col("price_dec") * 2).cast("decimal(18,2)"),
            )
        )
        n_ins = updates.filter(F.col("o_orderkey") % 10 == 9).count()
        n_upd = updates.count() - n_ins
        report = upsert_rows(spark, base, updates, ["o_orderkey"])
        assert report["updated_rows"] == n_upd, report
        assert report["inserted_rows"] == n_ins, report
        assert generation_row_count(base, at=report["generation"] - 1) == pre_rows

    return session_artifact_path(
        spark, sf_dir, "orders_upsert_demo", "orders.parquet", build
    )


@register(
    "rel_upsert_rows",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN o_orderkey % 10 = 0
                             THEN 2 * CAST(o_totalprice AS DECIMAL(18,2))
                             ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
                    AS DOUBLE) AS total_price
        FROM orders GROUP BY 1
    """,
    tier="relational",
    doc="MERGE (upsert) as a STORE operation — the DML triad's third "
    "verb (sources/generations.py:upsert_rows, beside delete_rows and "
    "append+publish): one updates frame both INSERTS the missing 10% "
    "of orders and REPLACES the %10==0 slice at doubled price, "
    "copy-on-write bounded by the manifest (key bounds + bloom-probed "
    "key lists prune the rewrite; survivors hardlink with carried "
    "stats; matched rows drop via one left-anti join, updates land as "
    "fresh files, everything swaps as a new generation). The oracle "
    "recomputes the merged state from the raw table (CASE on the "
    "repriced slice), so the external hash match proves replaced rows "
    "carry exactly their postimages, inserts landed once, and nothing "
    "else moved. The exact updated/inserted report and the pre-merge "
    "snapshot's stability are asserted in the build; CDF emission and "
    "matview-rebuild semantics in tests/test_upsert.py. At 100 TB "
    "this is the daily-corrections pattern: the merge rewrites the "
    "key-overlapping slice, never the store.",
)
def q_rel_upsert_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import read_generation

    root = orders_upsert_demo(spark, sf_dir)
    df = read_generation(spark, _os.path.join(root, "base"))
    return df.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("price_dec", "total_price"),
    )


@register(
    "rel_matview_join_refresh",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS total_rev,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
    """,
    tier="relational",
    doc="A materialized aggregate over FACT ⋈ DIM under incremental "
    "view maintenance — the standard join-IVM telescoping delta "
    "(operators/matview.py:create_matview_join): refresh #1 merges "
    "ΔF ⋈ dim (dims stable → the fact's delta files are the ONLY "
    "scan), refresh #2 merges F@new ⋈ ΔD (a late-arriving dimension "
    "row must backfill every pre-existing fact row its key unlocks "
    "for the inner join — the case single-table IVM cannot express). "
    "The oracle aggregates the FULL lineitem ⋈ orders join, so the "
    "external hash match proves incremental == full rebuild across "
    "mixed fact/dim appends, including the COUNT(DISTINCT) support "
    "across both refresh kinds. At 100 TB this is the dashboard "
    "pattern: the fact grows daily, dims trickle, and no refresh "
    "ever rescans history.",
)
def q_rel_matview_join_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .matview import read_matview

    root = lineitem_orders_join_matview_demo(spark, sf_dir)
    v = read_matview(spark, _os.path.join(root, "view"))
    return v.select(
        "priority",
        "n_items",
        F.col("total_qty").cast("double").alias("total_qty"),
        F.col("total_rev").cast("double").alias("total_rev"),
        F.col("n_orders").cast("long").alias("n_orders"),
    )


def orders_savepoint_demo(spark: SparkSession, sf_dir: str) -> str:
    """A tagged-generation lifecycle, built once per (application,
    corpus content): 70% of orders published as generation 1 and
    TAGGED 'train-v1' (sources/generations.py:tag_generation — the
    Iceberg ref rule: a tag blocks retention expiry until dropped),
    then the remaining 30% appended as generation 2. The exported
    query reads AT THE TAG, so its oracle is the 70% filter — the
    hash match proves the named pin still serves exactly the
    pre-append snapshot while the store's head has moved on."""
    from ..sources.generations import publish_generation, tag_generation

    def build(path: str) -> None:
        base = _os.path.join(path, "base")
        o = _orders_projected(spark, sf_dir)
        o.filter(F.col("o_orderkey") % 10 < 7).coalesce(4).write.parquet(base)
        publish_generation(base)
        tag_generation(base, "train-v1")
        o.filter(F.col("o_orderkey") % 10 >= 7).coalesce(2).write.mode(
            "append"
        ).parquet(base)
        publish_generation(base)

    return session_artifact_path(
        spark, sf_dir, "orders_savepoint_demo", "orders.parquet", build
    )


@register(
    "rel_savepoint_pinned_read",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE o_orderkey % 10 < 7
        GROUP BY 1
    """,
    tier="relational",
    doc="A NAMED SNAPSHOT read: generation 1 (70% of orders) is tagged "
    "'train-v1' before a further 30% lands as generation 2, and the "
    "query aggregates read_generation(at='train-v1') "
    "(sources/generations.py:tag_generation — Iceberg's tag/ref rule "
    "on the repo's own snapshot tier: a tag resolves like a version "
    "number AND blocks retention expiry until dropped, where the TTL "
    "policy alone only promises a wall-clock window). The oracle "
    "filters to the pre-append row set, so the external hash match "
    "proves the pin serves exactly the tagged snapshot while the head "
    "has moved on. create_savepoint applies one tag across several "
    "stores — a training run pins tokens + index + vectors under a "
    "single handle (tests/test_tags.py, incl. survival through real "
    "append+compact eras that expire every untagged sibling).",
)
def q_rel_savepoint_pinned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import read_generation

    root = orders_savepoint_demo(spark, sf_dir)
    df = read_generation(spark, _os.path.join(root, "base"), at="train-v1")
    return df.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("price_dec", "total_price"),
    )


@register(
    "rel_generation_diff_scan",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE o_orderkey % 10 >= 7
        GROUP BY 1
    """,
    tier="relational",
    doc="INCREMENTAL CONSUMPTION from a named snapshot: "
    "generation_diff(since='train-v1') on the savepoint demo store "
    "returns exactly the rows that arrived AFTER the tag — and in an "
    "append-only span it reads ONLY the appended files, never the "
    "rows the consumer already has (sources/generations.py: "
    "generation_diff; planner classification via diff_plan). The "
    "oracle is the complement filter of the pinned read's "
    "(rel_savepoint_pinned_read), so the two external hash matches "
    "together partition the table: pin + diff == whole store, no "
    "overlap, no loss. This is the give-me-what-arrived-since-my-"
    "training-snapshot primitive — at 100 TB a nightly top-up job "
    "scans one night's files.",
)
def q_rel_generation_diff_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import generation_diff

    root = orders_savepoint_demo(spark, sf_dir)
    delta = generation_diff(
        spark, _os.path.join(root, "base"), since="train-v1"
    )
    return delta.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("price_dec", "total_price"),
    )


@register(
    "rel_bloom_point_lookup",
    oracle="""
        SELECT o_orderkey,
               o_orderpriority AS priority,
               o_orderdate,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                   AS total_price
        FROM orders WHERE o_orderkey = 7
    """,
    tier="relational",
    doc="POINT LOOKUP on an unclustered high-cardinality key via "
    "per-file BLOOM sidecars (sources/generations.py: "
    "publish_generation(bloom_cols=...) — the Iceberg-puffin move on "
    "the snapshot tier): the store is range-clustered by DATE, so "
    "every file's o_orderkey min/max covers every key and bounds "
    "prune nothing; the manifest-referenced blooms prune the probe to "
    "the one file (plus rare false positives, which only KEEP a file "
    "— misses are structurally impossible, so the lookup is lossless, "
    "certified by the oracle's plain full-table filter). Built once "
    "per immutable file at publish from a column-projected read; "
    "probed planner-side from one manifest read + tiny sidecar "
    "fetches. At 100 TB this is fetch-document-by-id against a "
    "time-clustered corpus without a secondary index: O(candidate "
    "files) sidecar probes instead of a full scan "
    "(tests/test_bloom_skipping.py: losslessness, typed-key "
    "collision-freedom, carry-forward, compaction, GC).",
)
def q_rel_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import read_generation

    path = orders_snapshot_store(spark, sf_dir)
    df = read_generation(spark, path, where=[("o_orderkey", "=", 7)])
    return df.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        "o_orderdate",
        F.col("price_dec").cast("double").alias("total_price"),
    )


def orders_changes_demo(spark: SparkSession, sf_dir: str) -> str:
    """A rewriting-maintenance lifecycle, built once per (application,
    corpus content): generation 1 holds 70% of orders; a maintenance
    job then REWRITES the store — inserting the %10==7 stripe,
    deleting keys with %100==13, doubling the price where %100==11 —
    published as generation 2. File sets are incomparable, so
    generation_diff would refuse; generation_changes reconciles the
    span row-by-row instead."""
    from ..sources.generations import publish_generation

    def build(path: str) -> None:
        base = _os.path.join(path, "base")
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            dec("o_totalprice").alias("price_dec"),
        )
        o.filter(F.col("o_orderkey") % 10 < 7).coalesce(2).write.parquet(base)
        publish_generation(base)
        for f in _os.listdir(base):
            p = _os.path.join(base, f)
            if _os.path.isfile(p) and not f.startswith(("_", ".")):
                _os.remove(p)
        v2 = o.filter(
            (F.col("o_orderkey") % 10 < 8) & (F.col("o_orderkey") % 100 != 13)
        ).withColumn(
            "price_dec",
            F.when(
                F.col("o_orderkey") % 100 == 11, F.col("price_dec") * 2
            ).otherwise(F.col("price_dec")),
        )
        v2.coalesce(2).write.mode("append").parquet(base)
        publish_generation(base)

    return session_artifact_path(
        spark, sf_dir, "orders_changes_demo", "orders.parquet", build
    )


@register(
    "rel_generation_changes",
    oracle="""
        WITH o AS (
            SELECT o_orderkey, o_orderpriority AS priority,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS p
            FROM orders
        ),
        g1 AS (SELECT * FROM o WHERE o_orderkey % 10 < 7),
        g2 AS (
            SELECT o_orderkey, priority,
                   CASE WHEN o_orderkey % 100 = 11 THEN p * 2 ELSE p END AS p
            FROM o WHERE o_orderkey % 10 < 8 AND o_orderkey % 100 <> 13
        )
        SELECT g2.o_orderkey, g2.priority, CAST(g2.p AS DOUBLE) AS total_price,
               'insert' AS change_type
        FROM g2 WHERE g2.o_orderkey NOT IN (SELECT o_orderkey FROM g1)
        UNION ALL
        SELECT g1.o_orderkey, g1.priority, CAST(g1.p AS DOUBLE),
               'delete'
        FROM g1 WHERE g1.o_orderkey NOT IN (SELECT o_orderkey FROM g2)
        UNION ALL
        SELECT g1.o_orderkey, g1.priority, CAST(g1.p AS DOUBLE),
               'update_preimage'
        FROM g1 JOIN g2 USING (o_orderkey) WHERE g1.p <> g2.p
        UNION ALL
        SELECT g2.o_orderkey, g2.priority, CAST(g2.p AS DOUBLE),
               'update_postimage'
        FROM g1 JOIN g2 USING (o_orderkey) WHERE g1.p <> g2.p
    """,
    tier="relational",
    doc="A row-level CHANGE FEED between snapshots (the Delta-CDF "
    "shape, sources/generations.py:generation_changes): a rewriting "
    "maintenance job inserted one key stripe, deleted another, and "
    "repriced a third between generations 1 and 2, making the file "
    "sets incomparable — generation_diff correctly refuses such a "
    "span, and the change feed reconciles it instead: ONE null-safe "
    "full-outer join on the row key classifies insert / delete / "
    "update (both images emitted), untouched rows absent. The oracle "
    "reconstructs all four classes from the raw table, so the "
    "external hash match certifies the classification exactly. At "
    "100 TB this is how a downstream consumer (a feature store, a "
    "search index) follows a store it cannot re-scan: one join "
    "exchange per reconciliation, not a rebuild.",
)
def q_rel_generation_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import generation_changes

    root = orders_changes_demo(spark, sf_dir)
    ch = generation_changes(
        spark,
        _os.path.join(root, "base"),
        since=1,
        until=2,
        key_cols=("o_orderkey",),
    )
    return ch.select(
        "o_orderkey",
        "priority",
        F.col("price_dec").cast("double").alias("total_price"),
        "change_type",
    )


@register(
    "rel_metadata_count",
    oracle="""
        SELECT
            CAST((SELECT COUNT(*) FROM orders
                  WHERE o_orderkey % 10 < 7) AS BIGINT) AS n_pinned,
            CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_head
    """,
    tier="relational",
    doc="COUNT(*) answered from METADATA alone: the savepoint demo "
    "store records each immutable file's exact footer row count in "
    "the generation manifest at publish, so counting the tagged "
    "snapshot and the live head launches ZERO Spark jobs and opens "
    "ZERO data files (sources/generations.py:generation_row_count — "
    "Iceberg's metadata-table move). The oracle recomputes both "
    "counts from the raw table, certifying the recorded counts exact. "
    "At 100 TB the most common query there is should not cost a "
    "cluster job.",
)
def q_rel_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import generation_row_count

    root = orders_savepoint_demo(spark, sf_dir)
    base = _os.path.join(root, "base")
    n_pinned = generation_row_count(base, at="train-v1")
    n_head = generation_row_count(base)
    return local_rows_df(
        spark,
        [(n_pinned, n_head)], "n_pinned long, n_head long"
    )


# ---------------------------------------------------------------------------
# Publish-time expectations (round 10 third wave): the admission gate
# ---------------------------------------------------------------------------

# The gated store's admission rules, shared by both exported queries.
# Violations are DELIBERATE on the fixture data: ~3% of orders exceed
# the price cap, ~2.5% fall after the date fence, and a handful fail
# both (exercising the multi-violation tag).
_EXPECT_PRICE_CAP = 300000
_EXPECT_DATE_FENCE = "1998-06-01"


def orders_gated_store(spark: SparkSession, sf_dir: str) -> str:
    """Orders admitted through append_with_expectations in quarantine
    mode, built once per (application, corpus content): passing rows
    become generation 1 of the managed store, violating rows land in
    the .quarantine sibling store tagged with the sorted names of
    every expectation they failed, and the manifest generation entry records
    the per-expectation violation counts durably."""
    import datetime

    from ..sources.expectations import append_with_expectations

    def build(path: str) -> None:
        append_with_expectations(
            spark,
            path,
            _orders_projected(spark, sf_dir),
            {
                "price_cap": [("price_dec", "<=", _EXPECT_PRICE_CAP)],
                "date_fence": [
                    (
                        "o_orderdate",
                        "<",
                        datetime.datetime(1998, 6, 1),
                    )
                ],
            },
            mode="quarantine",
        )

    return session_artifact_path(
        spark, sf_dir, "orders_gated_store", "orders.parquet", build
    )


_SQL_V_PRICE = (
    f"(NOT COALESCE(CAST(o_totalprice AS DECIMAL(18,2)) "
    f"<= {_EXPECT_PRICE_CAP}, FALSE))"
)
_SQL_V_DATE = (
    f"(NOT COALESCE(o_orderdate < TIMESTAMP '{_EXPECT_DATE_FENCE}', FALSE))"
)


@register(
    "rel_expectations_quarantine",
    oracle=f"""
        WITH f AS (
            SELECT o_totalprice,
                   {_SQL_V_DATE} AS v_date,
                   {_SQL_V_PRICE} AS v_price
            FROM orders
        )
        SELECT concat_ws(',',
                   CASE WHEN v_date THEN 'date_fence' END,
                   CASE WHEN v_price THEN 'price_cap' END) AS violations,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM f WHERE v_date OR v_price GROUP BY 1
    """,
    tier="relational",
    doc="The PUBLISH-TIME ADMISSION GATE (sources/expectations.py — "
    "the Delta Live Tables expectations shape): orders append through "
    "two declared expectations; violating rows are split into the "
    "store's .quarantine SIBLING store (outside the swap path, so "
    "compaction/delete can never destroy it; itself "
    "generations-managed) tagged with the "
    "name-sorted list of every expectation they failed. The query "
    "aggregates the quarantine by violation tag; the oracle recomputes "
    "the split from the raw table, so the hash match proves the gate "
    "routed every row exactly — including rows failing BOTH "
    "expectations. The gate itself is one map-side-combined aggregate "
    "plus filtered appends: nothing about it shuffles on batch size, "
    "so it holds at 100 TB ingest. The reference folds mapper output "
    "in unchecked (helper_reduce.c:241); this is the defect-class "
    "answer SURVEY.md §2.12 calls for.",
)
def q_rel_expectations_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.expectations import read_quarantine

    path = orders_gated_store(spark, sf_dir)
    q = read_quarantine(spark, path)
    return (
        q.groupBy(F.col("_violations").alias("violations"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("price_dec", "total_price"),
        )
    )


@register(
    "rel_expectations_audit",
    oracle=f"""
        SELECT 'date_fence' AS expectation,
               CAST(SUM(CASE WHEN {_SQL_V_DATE} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violations
        FROM orders
        UNION ALL
        SELECT 'price_cap' AS expectation,
               CAST(SUM(CASE WHEN {_SQL_V_PRICE} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violations
        FROM orders
    """,
    tier="relational",
    doc="The gate's DURABLE AUDIT served from metadata: "
    "append_with_expectations records per-expectation violation "
    "counts in the admitted generation's manifest entry, so this "
    "query answers from ONE JSON read — zero Spark jobs, zero data "
    "files opened (the same posture as rel_metadata_count). The "
    "oracle recomputes the counts from the raw table, certifying the "
    "recorded audit exact. At 100 TB 'how dirty was last night's "
    "load' should not cost a cluster job.",
)
def q_rel_expectations_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.expectations import expectation_audit

    path = orders_gated_store(spark, sf_dir)
    audit = expectation_audit(path)
    rows = sorted(audit["violations"].items())
    return local_rows_df(
        spark,
        rows, "expectation string, n_violations long"
    )


# ---------------------------------------------------------------------------
# Histogram matviews (round 10 third wave): maintainable distribution stats
# ---------------------------------------------------------------------------

# 24 width-25000 bins over [0, 600000) — covers every o_totalprice in
# the fixture, so the under/overflow bins stay empty (kept anyway:
# they are part of the operator's contract).
_HIST_LO, _HIST_HI, _HIST_NB = 0, 600000, 24
_HIST_OP = f"hist:{_HIST_LO}:{_HIST_HI}:{_HIST_NB}"
_HIST_W = (_HIST_HI - _HIST_LO) / _HIST_NB  # 25000.0
_HIST_CUT = "1998-01-01"  # the lifecycle's DELETE predicate


def orders_hist_demo(spark: SparkSession, sf_dir: str) -> str:
    """The histogram view's FULL maintenance lifecycle, built once per
    (application, corpus content): 70% of orders becomes generation 1
    and the per-priority histogram view materializes against it; the
    other 30% appends (generation 2, incremental refresh — bin counts
    merge by element-wise add); then every 1998+ order is DELETED
    (generation 3, RETRACTION refresh — bin counts are signed-summable,
    so the refresh consumes the change feed's preimages instead of
    rebuilding). The exported queries read the twice-refreshed view;
    their oracles aggregate the surviving rows from the raw table, so
    the external hash match certifies merge AND retraction exact."""
    import datetime

    from ..sources.generations import delete_rows, publish_generation
    from .matview import create_matview, refresh_matview

    def build(path: str) -> None:
        base = _os.path.join(path, "base")
        view = _os.path.join(path, "view")
        o = _orders_projected(spark, sf_dir)
        o.filter(F.col("o_orderkey") % 10 < 7).coalesce(4).write.parquet(base)
        publish_generation(base)
        create_matview(
            spark,
            base,
            view,
            ["o_orderpriority"],
            {
                "n_orders": ("count", "*"),
                "price_hist": (_HIST_OP, "price_dec"),
            },
            row_keys=["o_orderkey"],
        )
        o.filter(F.col("o_orderkey") % 10 >= 7).coalesce(2).write.mode(
            "append"
        ).parquet(base)
        publish_generation(base)
        rep = refresh_matview(spark, view)
        assert rep["mode"] == "incremental", rep
        delete_rows(
            spark,
            base,
            [("o_orderdate", ">=", datetime.datetime(1998, 1, 1))],
        )
        rep = refresh_matview(spark, view)
        assert rep["mode"] == "retract", rep

    return session_artifact_path(
        spark, sf_dir, "orders_hist_demo", "orders.parquet", build
    )


# Surviving rows + double-cast price, shared by both oracles. The bin
# expression mirrors _bin_cond's least(floor((v-lo)/w), nb-1) clamp
# exactly, so both engines bin identically bit-for-bit.
_SQL_HIST_F = f"""
    SELECT o_orderpriority AS priority,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS p
    FROM orders WHERE o_orderdate < TIMESTAMP '{_HIST_CUT}'
"""
_SQL_HIST_BIN = (
    f"CASE WHEN p < {_HIST_LO} THEN 0 "
    f"WHEN p >= {_HIST_HI} THEN {_HIST_NB + 1} "
    f"ELSE LEAST(CAST(FLOOR((p - {_HIST_LO}) / {_HIST_W}) AS BIGINT), "
    f"{_HIST_NB - 1}) + 1 END"
)


@register(
    "rel_matview_histogram",
    oracle=f"""
        WITH f AS ({_SQL_HIST_F})
        SELECT priority,
               {_SQL_HIST_BIN} AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM f WHERE p IS NOT NULL GROUP BY 1, 2
    """,
    tier="relational",
    doc="A MAINTAINABLE per-group histogram (operators/matview.py op "
    "'hist:lo:hi:nbins'): bin counts are plain sum-monoids stored as "
    "view ingredients, so the distribution statistic merges on append "
    "AND retracts on delete — this view survived an incremental "
    "append refresh and then a RETRACTION refresh across a DELETE "
    "span (the lifecycle in orders_hist_demo), and the oracle "
    "recomputes the bins from the surviving raw rows, certifying "
    "both refreshes exact. This closes the r10 finding that exact "
    "count_distinct maintenance is answer-sized under retraction: "
    "distribution stats at declared resolution refresh at "
    "group x nbins cost — the view state a 100 TB percentile "
    "dashboard actually wants.",
)
def q_rel_matview_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .matview import hist_bins, read_matview

    root = orders_hist_demo(spark, sf_dir)
    v = read_matview(spark, _os.path.join(root, "view"))
    b = hist_bins(v, "price_hist", ["o_orderpriority"])
    return b.filter(F.col("n") > 0).select(
        F.col("o_orderpriority").alias("priority"),
        F.col("bin").cast("long").alias("bin"),
        F.col("n").alias("n_rows"),
    )


@register(
    "rel_matview_hist_quantile",
    oracle=f"""
        WITH f AS ({_SQL_HIST_F}),
        i AS (
            SELECT priority,
                   LEAST(CAST(FLOOR((p - {_HIST_LO}) / {_HIST_W}) AS BIGINT),
                         {_HIST_NB - 1}) AS _i
            FROM f WHERE p >= {_HIST_LO} AND p < {_HIST_HI}
        ),
        b AS (
            SELECT priority, _i, CAST(COUNT(*) AS BIGINT) AS _n
            FROM i GROUP BY 1, 2
        ),
        c AS (
            SELECT priority, _i, _n,
                   SUM(_n) OVER (PARTITION BY priority ORDER BY _i) AS _cum,
                   SUM(_n) OVER (PARTITION BY priority) AS _tot
            FROM b
        )
        SELECT priority, CAST(pp AS DOUBLE) AS p,
               {_HIST_LO} + {_HIST_W} * (CAST(_i AS DOUBLE)
                   + (CAST(pp AS DOUBLE) * CAST(_tot AS DOUBLE)
                      - CAST(_cum - _n AS DOUBLE)) / CAST(_n AS DOUBLE))
                   AS q
        FROM c CROSS JOIN (VALUES (0.5), (0.95)) AS ps(pp)
        WHERE CAST(_cum AS DOUBLE) >= CAST(pp AS DOUBLE) * CAST(_tot AS DOUBLE)
        QUALIFY ROW_NUMBER() OVER (PARTITION BY priority, pp ORDER BY _i) = 1
    """,
    tier="relational",
    doc="PERCENTILES SERVED FROM THE MATERIALIZED HISTOGRAM "
    "(matview.hist_quantile): p50/p95 order value per priority, "
    "linearly interpolated within the covering bin — resolution is "
    "the declared bin width, cost is a window over group x nbins "
    "stored rows, never the base. The oracle replicates the same "
    "interpolation over bins recomputed from the surviving raw rows "
    "(the view is post-append, post-delete), so the hash match pins "
    "both the maintained bin counts and the serving arithmetic. "
    "Exact percentiles are unmaintainable under updates; this is the "
    "maintainable answer a refresh-per-microbatch dashboard needs.",
)
def q_rel_matview_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .matview import hist_quantile, read_matview

    root = orders_hist_demo(spark, sf_dir)
    v = read_matview(spark, _os.path.join(root, "view"))
    return hist_quantile(
        v, "price_hist", _HIST_OP, ["o_orderpriority"], [0.5, 0.95]
    ).select(F.col("o_orderpriority").alias("priority"), "p", "q")


def orders_readmit_demo(spark: SparkSession, sf_dir: str) -> str:
    """The repair loop end-to-end, built once per (application, corpus
    content): orders gate through the price cap (over-cap rows
    quarantine), then `readmit` repairs them by clamping the price to
    the cap and re-gates — the quarantine drains and the store ends
    holding EVERY order, clamped. The exported query's oracle
    recomputes that final state from the raw table (LEAST against the
    cap), so the hash match pins the whole gate→repair→readmit cycle."""
    from ..sources.expectations import (
        append_with_expectations,
        readmit,
    )

    def build(path: str) -> None:
        exp = {"price_cap": [("price_dec", "<=", _EXPECT_PRICE_CAP)]}
        append_with_expectations(
            spark,
            path,
            _orders_projected(spark, sf_dir),
            exp,
            mode="quarantine",
        )
        rep = readmit(
            spark,
            path,
            exp,
            fix=lambda df: df.withColumn(
                "price_dec",
                F.least(
                    F.col("price_dec"),
                    F.lit(_EXPECT_PRICE_CAP).cast("decimal(18,2)"),
                ),
            ),
        )
        assert rep["still_quarantined"] == 0, rep

    return session_artifact_path(
        spark, sf_dir, "orders_readmit_demo", "orders.parquet", build
    )


@register(
    "rel_expectations_readmit",
    oracle=f"""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               -- CASE, not LEAST: DuckDB's LEAST coerces DECIMAL
               -- operands to DOUBLE, losing the exact-sum discipline
               CAST(SUM(CASE
                   WHEN CAST(o_totalprice AS DECIMAL(18,2))
                        > {_EXPECT_PRICE_CAP}
                   THEN CAST({_EXPECT_PRICE_CAP} AS DECIMAL(18,2))
                   ELSE CAST(o_totalprice AS DECIMAL(18,2))
               END) AS DOUBLE) AS total_price
        FROM orders GROUP BY o_orderpriority
    """,
    tier="relational",
    doc="QUARANTINE RE-ADMISSION (sources/expectations.py:readmit — "
    "the repair loop the quarantine exists for): over-cap orders were "
    "split at admission, repaired by clamping to the cap, re-gated, "
    "and appended as an audited 'readmit' generation; the quarantine "
    "drained to zero. The query aggregates the final store; the "
    "oracle recomputes it from the raw table with the same clamp, so "
    "the hash match proves no row was lost, duplicated, or left "
    "unrepaired across the gate→quarantine→repair→readmit cycle. At "
    "100 TB this is the operational answer to 'a producer shipped a "
    "bad field for a week': repair the reject pile and re-admit it, "
    "without re-ingesting the source.",
)
def q_rel_expectations_readmit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import read_generation

    path = orders_readmit_demo(spark, sf_dir)
    return read_generation(spark, path).groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("price_dec", "total_price"),
    )


@register(
    "rel_metadata_minmax",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
               MIN(o_orderdate) AS first_date,
               MAX(o_orderdate) AS last_date
        FROM orders
    """,
    tier="relational",
    doc="Exact MIN/MAX served from METADATA (sources/generations.py:"
    "generation_column_bounds, the companion to the manifest-served "
    "COUNT(*)): the global min/max of a column is the fold of the "
    "per-file footer bounds recorded at publish — zero Spark jobs, "
    "zero data pages, NULL-skipping by parquet's own stats semantics. "
    "The oracle recomputes all five values from the raw table, "
    "certifying the recorded bounds exact. At 100 TB 'what key/date "
    "range does this table cover' — the first question every "
    "incremental consumer asks — should not cost a cluster job.",
)
def q_rel_metadata_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from ..sources.generations import (
        generation_column_bounds,
        generation_row_count,
    )

    path = orders_snapshot_store(spark, sf_dir)
    n = generation_row_count(path)
    kmin, kmax = generation_column_bounds(path, "o_orderkey")
    dmin, dmax = generation_column_bounds(path, "o_orderdate")
    row = (
        n,
        int(kmin),
        int(kmax),
        datetime.datetime.fromisoformat(dmin),
        datetime.datetime.fromisoformat(dmax),
    )
    return local_rows_df(
        spark,
        [row],
        "n_rows long, min_key long, max_key long, "
        "first_date timestamp, last_date timestamp",
    )


@register(
    "rel_metadata_count_pruned",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(TRUE AS BOOLEAN) AS bounded_plan
        FROM orders
        WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                              AND TIMESTAMP '1996-12-31'
    """,
    tier="relational",
    doc="PREDICATE COUNT(*) served mostly from METADATA "
    "(sources/generations.py:generation_predicate_count — the "
    "aggregate-pushdown half of the manifest move): on the range-"
    "clustered store, files the footer bounds prove FULLY inside the "
    "date range (with recorded zero null counts) contribute exact "
    "manifest row counts unopened; only the boundary files scan. The "
    "emitted boolean asserts the plan shape: metadata counted at "
    "least one file and at most the two boundary files (plus one for "
    "layout slack) were opened, out of 16 — so the external hash "
    "match certifies both the exact count and the split. At "
    "100 TB a clustered range count is two boundary-file scans plus "
    "one manifest read, at any store size.",
)
def q_rel_metadata_count_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from ..sources.generations import generation_predicate_count

    path = orders_snapshot_store(spark, sf_dir)
    rep = generation_predicate_count(
        spark,
        path,
        [
            (
                "o_orderdate",
                "between",
                (
                    datetime.datetime(1996, 1, 1),
                    datetime.datetime(1996, 12, 31),
                ),
            )
        ],
    )
    bounded = rep["files_metadata"] >= 1 and rep["files_scanned"] <= 3
    return local_rows_df(
        spark,
        [(rep["count"], bounded)],
        "n_orders long, bounded_plan boolean",
    )


def orders_concurrent_append_demo(spark: SparkSession, sf_dir: str) -> str:
    """Optimistic concurrent appends (round 11), built once per
    (application, corpus content): THREE writer threads race
    `generations.append_rows` into one empty store under the
    object-store CAS backend (sources/commitio.py:CASStoreIO — no
    flock, no hardlinks; appenders co-hold the shared lease and
    compose through the conditional manifest put, losers retry). Each
    writer appends a disjoint third of orders (o_orderkey % 3). The
    build asserts all three generations landed (head == 3), the final
    row count is exact (nothing lost to a clobbered manifest save,
    nothing doubled by a retry), and the per-generation listings are
    disjoint unions."""
    import threading

    from ..sources.commitio import CASStoreIO, using_backend
    from ..sources.generations import (
        generation_head,
        generation_row_count,
        load_manifest,
        append_rows,
    )

    def build(path: str) -> None:
        base = _os.path.join(path, "base")
        o = _orders_projected(spark, sf_dir)
        total = o.count()
        with using_backend(CASStoreIO()):
            barrier = threading.Barrier(3)
            errors: list[Exception] = []

            def writer(slot: int) -> None:
                try:
                    df = o.filter(F.col("o_orderkey") % 3 == slot).coalesce(2)
                    barrier.wait()
                    append_rows(spark, base, df)
                except Exception as e:  # pragma: no cover - surfaced below
                    errors.append(e)

            threads = [
                threading.Thread(target=writer, args=(s,)) for s in range(3)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            assert not errors, errors
            assert generation_head(base) == 3
            # exact manifest-served row count: nothing lost or doubled
            assert generation_row_count(base) == total
            m = load_manifest(base)
            assert len(m["gens"][str(m["head"])]["files"]) >= 3

    return session_artifact_path(
        spark, sf_dir, "orders_concurrent_append_demo", "orders.parquet", build
    )


@register(
    "rel_concurrent_append",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        GROUP BY o_orderpriority
    """,
    tier="relational",
    doc="OPTIMISTIC CONCURRENT APPENDS (round 11 —"
    " sources/generations.py:append_rows over commitio.CASStoreIO): "
    "three writer threads race disjoint thirds of orders into ONE "
    "store with no writer flock — object-store semantics, where "
    "exclusion is replaced by a conditional manifest put (Iceberg's "
    "optimistic commit): losers re-read the head and retry, appends "
    "compose because each writer's files are new objects. The build "
    "asserts head==3 and the manifest-exact row count; the query "
    "aggregates the final store and the oracle the raw table, so the "
    "external hash proves the interleaved publishes lost and doubled "
    "nothing. At 100 TB this is two independent pipelines landing on "
    "one table without queueing on a lock service.",
)
def q_rel_concurrent_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import read_generation

    root = orders_concurrent_append_demo(spark, sf_dir)
    df = read_generation(spark, _os.path.join(root, "base"))
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("price_dec", "total_price"),
    )


# ---------------------------------------------------------------------------
# round 12: schema evolution, SQL catalog surface, store maintenance
# ---------------------------------------------------------------------------


def orders_schema_evolution_demo(spark: SparkSession, sf_dir: str) -> str:
    """An EVOLVED generations store, built once per (application,
    corpus content): generation 1 holds the even-keyed orders under
    the NARROW schema (o_orderkey, o_custkey int, price_dec);
    generation 2 appends the odd-keyed orders under an EVOLVED schema
    (o_custkey widened int->long, o_orderpriority added) via
    schema_mode='evolve' (sources/generations.py:check_schema_
    evolution / _read_groups). The build asserts the pinned read
    of generation 1 keeps its pre-evolution shape."""
    from ..sources.generations import (
        append_rows,
        read_generation,
        store_schema,
    )

    def build(path: str) -> None:
        base = load_table(spark, sf_dir, "orders")
        even = base.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey",
            F.col("o_custkey").cast("int").alias("o_custkey"),
            dec("o_totalprice").alias("price_dec"),
        )
        odd = base.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            F.col("o_custkey").cast("long").alias("o_custkey"),
            dec("o_totalprice").alias("price_dec"),
            "o_orderpriority",
        )
        store = _os.path.join(path, "store")
        append_rows(spark, store, even)
        append_rows(spark, store, odd, schema_mode="evolve")
        # pinned pre-evolution read keeps its original shape
        g1 = read_generation(spark, store, at=1)
        assert dict(g1.dtypes)["o_custkey"] == "int", g1.dtypes
        assert "o_orderpriority" not in g1.columns
        assert store_schema(store).fieldNames() == [
            "o_orderkey", "o_custkey", "price_dec", "o_orderpriority",
        ]

    return session_artifact_path(
        spark, sf_dir, "orders_schema_evolution_demo", "orders.parquet", build
    )


@register(
    "rel_schema_evolution",
    oracle="""
        SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-evolution>'
                    ELSE o_orderpriority END AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        GROUP BY 1
    """,
    tier="relational",
    doc="SCHEMA EVOLUTION on a generations store (round 12 — "
    "sources/generations.py:check_schema_evolution, _read_groups): "
    "the store's second batch ADDED a column (o_orderpriority) and "
    "WIDENED one (o_custkey int->long) under schema_mode='evolve'; "
    "the head read reconciles the mixed-schema listing — per-file "
    "schema stamps group the scan, added columns null-fill on "
    "pre-evolution files, widened ones cast losslessly — with zero "
    "footer sampling (schemas ride the manifest). The oracle "
    "recomputes the same aggregate from the raw table with the "
    "evolution simulated in SQL, so the external hash pins both the "
    "null-fill and the widening arithmetic. Pinned reads of the "
    "pre-evolution generation keep their original shape (asserted in "
    "the build). At 100 TB this is the single most common lakehouse "
    "change — a producer adding a column — without a table rewrite.",
)
def q_rel_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import read_generation

    root = orders_schema_evolution_demo(spark, sf_dir)
    df = read_generation(spark, _os.path.join(root, "store"))
    return df.groupBy(
        F.coalesce("o_orderpriority", F.lit("<pre-evolution>")).alias(
            "priority"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_custkey").alias("sum_cust"),
        dsum("price_dec", "total_price"),
    )


_TRAVEL_CAP = 250000.00


def orders_travel_demo(spark: SparkSession, sf_dir: str) -> str:
    """A two-generation store for the SQL time-travel query:
    generation 1 = every projected order; generation 2 = after a
    row-level DELETE of the over-cap rows. Built once per
    (application, corpus content)."""
    from ..sources.generations import append_rows, delete_rows

    def build(path: str) -> None:
        store = _os.path.join(path, "store")
        append_rows(spark, store, _orders_projected(spark, sf_dir))
        delete_rows(spark, store, [("price_dec", ">", _TRAVEL_CAP)])

    return session_artifact_path(
        spark, sf_dir, "orders_travel_demo", "orders.parquet", build
    )


@register(
    "rel_store_sql_travel",
    oracle=f"""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) FILTER (
                   WHERE CAST(o_totalprice AS DECIMAL(18,2))
                         <= {_TRAVEL_CAP}) AS BIGINT) AS n_now,
               CAST(COUNT(*) AS BIGINT) AS n_before
        FROM orders
        GROUP BY 1
    """,
    tier="relational",
    doc="THE SQL/CATALOG SURFACE over the store tier (round 12 — "
    "sources/catalog.py:register_store/store_sql): the query body is "
    "ANSI SQL with an inline TIME-TRAVEL reference — `ostore` is the "
    "head (post-DELETE) and `ostore@1` the pre-DELETE snapshot, "
    "resolved through the manifest and joined in ONE statement "
    "(Iceberg's VERSION AS OF spelled inline). The oracle recomputes "
    "both states from the raw table, so the external hash proves the "
    "registered views serve exactly the pinned generations. This "
    "closes the gap a real analyst hits first: every store readable "
    "by spark.sql, history included, no path-level API required.",
)
def q_rel_store_sql_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import store_sql

    root = orders_travel_demo(spark, sf_dir)
    return store_sql(
        spark,
        """
        SELECT n.priority, n.n_now, b.n_before
        FROM (SELECT o_orderpriority AS priority, COUNT(*) AS n_now
              FROM ostore GROUP BY 1) n
        JOIN (SELECT o_orderpriority AS priority, COUNT(*) AS n_before
              FROM ostore@1 GROUP BY 1) b
          ON n.priority = b.priority
        """,
        {"ostore": _os.path.join(root, "store")},
    )


def orders_maintenance_demo(spark: SparkSession, sf_dir: str) -> str:
    """The scheduled-maintenance lifecycle, built once per
    (application, corpus content): six small appends fragment the
    store past its recorded compaction policy, a crashed optimistic
    placement is simulated (an orphan parquet file no manifest
    references), and ONE `api.maintain_store` call both folds the
    store to its target file count and vacuums the residue. The build
    asserts all three effects; the exported query aggregates the
    store afterwards, so the external hash proves maintenance lost
    and resurrected nothing."""
    import shutil as _shutil
    import uuid as _uuid

    from .. import api as _api
    from ..sources.generations import (
        append_rows,
        load_manifest,
        set_compaction_policy,
    )

    def build(path: str) -> None:
        store = _os.path.join(path, "store")
        base = _orders_projected(spark, sf_dir)
        for i in range(6):
            append_rows(
                spark, store, base.filter(F.col("o_orderkey") % 6 == i)
            )
        set_compaction_policy(store, max_files=4, n_files=2)
        m = load_manifest(store)
        files_before = len(m["gens"][str(m["head"])]["files"])
        assert files_before > 4, files_before  # policy trigger holds
        # first maintenance pass: the policy fires and folds the store
        rep = _api.maintain_store(spark, store, vacuum_grace_seconds=0.0)
        assert rep["compacted_to"] is not None, rep
        m2 = load_manifest(store)
        assert len(m2["gens"][str(m2["head"])]["files"]) <= 4, m2["gens"]
        # crashed-placement residue lands AFTER the fold: a file no
        # generation references (a failed optimistic append's orphan)
        residue = _os.path.join(
            store, f"part-{_uuid.uuid4().hex}-crashed.snappy.parquet"
        )
        src = next(
            _os.path.join(store, f)
            for f in _os.listdir(store)
            if f.endswith(".parquet")
        )
        _shutil.copy2(src, residue)
        # second pass: within policy bounds (no re-fold), vacuum
        # reclaims the orphan — the steady-state nightly run
        rep2 = _api.maintain_store(spark, store, vacuum_grace_seconds=0.0)
        assert rep2["compacted_to"] is None, rep2
        assert rep2["vacuum"]["data_files"] >= 1, rep2
        assert not _os.path.exists(residue)

    return session_artifact_path(
        spark, sf_dir, "orders_maintenance_demo", "orders.parquet", build
    )


@register(
    "rel_store_maintenance",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        GROUP BY 1
    """,
    tier="relational",
    doc="SCHEDULED STORE MAINTENANCE in one call (round 12 — "
    "api.maintain_store = generations.maybe_autocompact + "
    "vacuum_store): six fragmenting appends trip the manifest's "
    "recorded small-file policy, a crashed optimistic placement "
    "plants unreachable residue, and maintain() both folds the store "
    "to its target file count and reclaims the orphan — the build "
    "asserts the fold fired, the residue was counted and deleted, "
    "and the head file count is back within policy. The exported "
    "query aggregates the maintained store against the raw-table "
    "oracle, so the external hash proves maintenance preserved every "
    "row (the residue was invisible to reads before vacuum and its "
    "deletion changed nothing). This is the nightly crontab line a "
    "100 TB deployment actually runs.",
)
def q_rel_store_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import read_generation

    root = orders_maintenance_demo(spark, sf_dir)
    df = read_generation(spark, _os.path.join(root, "store"))
    return df.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("price_dec", "total_price"),
    )


def orders_relayout_demo(spark: SparkSession, sf_dir: str) -> str:
    """Partition evolution end-to-end, built once per (application,
    corpus content): orders land FLAT, the store re-lands partitioned
    by o_orderpriority via optimize_store(partition_by=...), a
    priority-partitioned batch appends under the new scheme, and the
    build asserts (a) the layout guard refused a flat append after the
    re-layout, (b) partition pruning fires on the new directories,
    (c) the pre-layout pinned generation still reads."""
    from ..sources.generations import (
        append_rows,
        generation_head,
        optimize_store,
        plan_generation_scan,
        read_generation,
    )

    def build(path: str) -> None:
        store = _os.path.join(path, "store")
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderpriority",
            dec("o_totalprice").alias("price_dec"),
        )
        is_late = F.col("o_orderkey") % 10 == 0
        append_rows(spark, store, base.filter(~is_late))  # flat era
        flat_head = generation_head(store)
        optimize_store(
            spark, store, cluster_by=["o_orderkey"], n_files=2,
            partition_by=["o_orderpriority"],
        )
        try:
            append_rows(spark, store, base.filter(is_late))
            raise AssertionError("layout guard should have refused")
        except ValueError:
            pass
        append_rows(
            spark, store, base.filter(is_late),
            partition_by=["o_orderpriority"],
        )
        _root, kept, total = plan_generation_scan(
            store, None, [("o_orderpriority", "=", "1-URGENT")]
        )
        assert 0 < len(kept) < total, (len(kept), total)
        assert read_generation(spark, store, at=flat_head).count() > 0

    return session_artifact_path(
        spark, sf_dir, "orders_relayout_demo", "orders.parquet", build
    )


@register(
    "rel_partition_evolution",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        GROUP BY 1
    """,
    tier="relational",
    doc="PARTITION EVOLUTION (round 12 — generations.optimize_store("
    "partition_by=...) + check_layout): the store's layout changes "
    "from flat to priority-partitioned as an explicit rewrite; the "
    "layout guard refuses the flat append that would have corrupted "
    "every later read, the conforming append lands under the new "
    "scheme, pruning fires on the new directories, and the pre-layout "
    "pinned generation stays readable (all asserted in the build). "
    "The exported aggregate of the final store hash-matches the raw "
    "table, proving the re-layout and the guarded appends lost and "
    "doubled nothing.",
)
def q_rel_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import read_generation

    root = orders_relayout_demo(spark, sf_dir)
    df = read_generation(spark, _os.path.join(root, "store"))
    return df.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("price_dec", "total_price"),
    )


_DV_CAP = 450000.00


def orders_dv_demo(spark: SparkSession, sf_dir: str) -> str:
    """Merge-on-read DELETE end-to-end, built once per (application,
    corpus content): orders land as one generation, delete_rows_dv
    removes the over-cap rows as a deletion VECTOR (no data rewrite —
    the build asserts the head listing is byte-identical and
    rewritten_files == 0), a later append proves the vector carries,
    and the metadata-only COUNT stays exact."""
    from ..sources.generations import (
        append_rows,
        delete_rows_dv,
        generation_row_count,
        load_manifest,
    )

    def build(path: str) -> None:
        store = _os.path.join(path, "store")
        base = _orders_projected(spark, sf_dir)
        is_late = F.col("o_orderkey") % 10 == 0
        append_rows(spark, store, base.filter(~is_late))
        m0 = load_manifest(store)
        files0 = m0["gens"][str(m0["head"])]["files"]
        n0 = generation_row_count(store)
        rep = delete_rows_dv(
            spark, store, [("price_dec", ">", _DV_CAP)]
        )
        assert rep["rewritten_files"] == 0, rep
        assert rep["deleted_rows"] > 0, rep
        m1 = load_manifest(store)
        assert m1["gens"][str(m1["head"])]["files"] == files0
        assert generation_row_count(store) == n0 - rep["deleted_rows"]
        append_rows(spark, store, base.filter(is_late))

    return session_artifact_path(
        spark, sf_dir, "orders_dv_demo", "orders.parquet", build
    )


@register(
    "rel_delete_dv",
    oracle=f"""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE o_orderkey % 10 = 0
           OR CAST(o_totalprice AS DECIMAL(18,2)) <= {_DV_CAP}
        GROUP BY 1
    """,
    tier="relational",
    doc="MERGE-ON-READ DELETE — deletion vectors (round 12, "
    "generations.delete_rows_dv): the over-cap rows disappear as a "
    "(file_name, row_index) sidecar with ZERO data rewritten (the "
    "build asserts the head listing is byte-identical and "
    "rewritten_files == 0 — at 100 TB, erasing 3 rows from a 1 GB "
    "file costs a sidecar row, not a gigabyte), a later append "
    "carries the vector, reads apply it as one broadcast anti-join, "
    "and the metadata-only COUNT stays exact via the recorded "
    "per-file deletion counts. The oracle recomputes the surviving "
    "rows from the raw table, so the external hash pins the vector's "
    "row-level exactness through the append.",
)
def q_rel_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import read_generation

    root = orders_dv_demo(spark, sf_dir)
    df = read_generation(spark, _os.path.join(root, "store"))
    return df.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("price_dec", "total_price"),
    )


_CDF_CAP = 300000.00


def orders_cdf_feed_demo(spark: SparkSession, sf_dir: str) -> str:
    """The change-feed SUBSCRIPTION lifecycle, built once per
    (application, corpus content): a source store lives through
    append -> DV delete -> append -> upsert (four generations), and a
    consumer drains its CDF into a changelog store across TWO ticks
    with a restart between them (max_batches=2, then resume) — the
    build asserts the bookmark sat at the tick boundary, the drain
    completed, and a re-run is a no-op (exactly-once). The exported
    query aggregates the changelog, so the external hash pins every
    insert/delete/update image the feed delivered."""
    from ..sources.changefeed import feed_bookmark, run_changes_feed
    from ..sources.generations import (
        append_rows,
        delete_rows_dv,
        upsert_rows,
    )

    def build(path: str) -> None:
        src = _os.path.join(path, "src")
        dst = _os.path.join(path, "dst")
        base = _orders_projected(spark, sf_dir)
        third = F.col("o_orderkey") % 3 == 0
        append_rows(spark, src, base.filter(~third))                # gen 1
        delete_rows_dv(spark, src, [("price_dec", ">", _CDF_CAP)])  # gen 2
        append_rows(spark, src, base.filter(third))                 # gen 3
        updates = (
            base.filter(
                (~third)
                & (F.col("price_dec") <= _CDF_CAP)
                & (F.col("o_orderkey") % 7 == 0)
            )
            .withColumn(
                "price_dec",
                (F.col("price_dec") * 2).cast("decimal(18,2)"),
            )
            .select("o_orderkey", "o_orderpriority", "o_orderdate",
                    "price_dec")
        )
        rep_u = upsert_rows(spark, src, updates, ["o_orderkey"])    # gen 4
        assert rep_u["inserted_rows"] == 0, rep_u  # pure update batch
        # two scheduler ticks with a restart between them
        rep = run_changes_feed(spark, src, dst, ["o_orderkey"], max_batches=2)
        assert rep["batches"] == 2 and feed_bookmark(dst, src) == 2, rep
        rep = run_changes_feed(spark, src, dst, ["o_orderkey"])
        assert rep["src_to"] == 4, rep
        # exactly-once: a replay consumes nothing
        assert run_changes_feed(spark, src, dst, ["o_orderkey"])["batches"] == 0

    return session_artifact_path(
        spark, sf_dir, "orders_cdf_feed_demo", "orders.parquet", build
    )


@register(
    "stream_store_cdf",
    oracle=f"""
        WITH t AS (SELECT o_orderkey AS k,
                          CAST(o_totalprice AS DECIMAL(18,2)) AS p
                   FROM orders)
        SELECT 'insert' AS change_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(k) AS BIGINT) AS sum_keys
        FROM t
        UNION ALL
        SELECT 'delete', CAST(COUNT(*) AS BIGINT), CAST(SUM(k) AS BIGINT)
        FROM t WHERE k % 3 != 0 AND p > {_CDF_CAP}
        UNION ALL
        SELECT 'update_preimage', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(k) AS BIGINT)
        FROM t WHERE k % 3 != 0 AND p <= {_CDF_CAP} AND k % 7 = 0
        UNION ALL
        SELECT 'update_postimage', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(k) AS BIGINT)
        FROM t WHERE k % 3 != 0 AND p <= {_CDF_CAP} AND k % 7 = 0
    """,
    tier="streaming",
    doc="CHANGE-FEED SUBSCRIPTION over a store (round 13 — "
    "sources/changefeed.py:run_changes_feed; the Delta "
    "readStream-on-a-table shape): a consumer resumes from a manifest "
    "bookmark and receives each new source generation's row-level CDF "
    "exactly once — one destination generation per consumed source "
    "generation, the bookmark riding the SAME atomic manifest save "
    "(pipeline.py's idempotency machinery). The build drains a "
    "four-generation lifecycle (append, DV delete, append, upsert) "
    "across two ticks with a restart between them and asserts a replay "
    "consumes nothing. The oracle recomputes every change image from "
    "the raw table — inserts are both append eras, deletes the "
    "over-cap rows, update pre/post the doubled-price keys — so the "
    "external hash pins the feed's exactly-once row delivery. Closes "
    "the r12 verdict's missing #1: downstream incrementals subscribe "
    "instead of re-reading or polling.",
)
def q_stream_store_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import read_generation

    root = orders_cdf_feed_demo(spark, sf_dir)
    log = read_generation(spark, _os.path.join(root, "dst"))
    return log.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("sum_keys"),
    )


def orders_rename_demo(spark: SparkSession, sf_dir: str) -> str:
    """Column RENAME end-to-end, built once per (application, corpus
    content): orders land under `price_dec`, `rename_columns` retitles
    it `amount_dec` METADATA-ONLY (the build asserts the head listing
    is byte-identical — zero files rewritten), a strict append lands
    under the new name, and the pinned pre-rename generation keeps the
    old shape."""
    from ..sources.generations import (
        append_rows,
        generation_head,
        load_manifest,
        read_generation,
        rename_columns,
        store_schema,
    )

    def build(path: str) -> None:
        store = _os.path.join(path, "store")
        base = load_table(spark, sf_dir, "orders")

        def proj(df, money_name):
            return df.select(
                "o_orderkey",
                "o_orderpriority",
                dec("o_totalprice").alias(money_name),
            )

        is_late = F.col("o_orderkey") % 3 == 0
        append_rows(spark, store, proj(base.filter(~is_late), "price_dec"))
        pre = generation_head(store)
        m0 = load_manifest(store)
        files0 = m0["gens"][str(m0["head"])]["files"]
        rename_columns(spark, store, {"price_dec": "amount_dec"})
        m1 = load_manifest(store)
        assert m1["gens"][str(m1["head"])]["files"] == files0  # no rewrite
        assert store_schema(store).fieldNames() == [
            "o_orderkey", "o_orderpriority", "amount_dec",
        ]
        # strict append under the NEW name; pinned pre-rename shape holds
        append_rows(spark, store, proj(base.filter(is_late), "amount_dec"))
        assert "price_dec" in read_generation(spark, store, at=pre).columns

    return session_artifact_path(
        spark, sf_dir, "orders_rename_demo", "orders.parquet", build
    )


@register(
    "rel_schema_rename",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_amount
        FROM orders
        GROUP BY 1
    """,
    tier="relational",
    doc="COLUMN RENAME via schema aliasing (round 13 — "
    "generations.rename_columns): metadata-only — the manifest records "
    "a {new: old} rename-chain step and a renamed schema over the SAME "
    "listing (the build asserts zero files rewritten); reads resolve "
    "the renamed logical column to the physical name pre-rename files "
    "carry (parquet is name-addressed, so a drop+add rename would "
    "serve NULL and lose history), a strict append lands under the new "
    "name, and the pinned pre-rename generation keeps its old shape. "
    "The oracle recomputes the aggregate from the raw table, so the "
    "external hash pins that old files' values survived under the new "
    "name through the union of both eras. Retired physical names can "
    "never re-enter the schema — the name-reuse hazard Iceberg solves "
    "with field ids, solved here by refusal (check_schema_evolution). "
    "At 100 TB a rename costs one manifest write, not a table rewrite.",
)
def q_rel_schema_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import read_generation

    root = orders_rename_demo(spark, sf_dir)
    df = read_generation(spark, _os.path.join(root, "store"))
    return df.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("amount_dec", "total_amount"),
    )


def orders_dv_merge_demo(spark: SparkSession, sf_dir: str) -> str:
    """Merge-on-read MERGE end-to-end, built once per (application,
    corpus content): orders land as one generation, then
    upsert_rows(mode='dv') reprices every seventh order — the build
    asserts ZERO files rewritten (old images disappear as vector
    positions, new images append) and a pure-update batch (no
    inserts)."""
    from ..sources.generations import append_rows, upsert_rows

    def build(path: str) -> None:
        store = _os.path.join(path, "store")
        base = _orders_projected(spark, sf_dir)
        append_rows(spark, store, base)
        upd = base.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "price_dec", (F.col("price_dec") * 2).cast("decimal(18,2)")
        )
        rep = upsert_rows(spark, store, upd, ["o_orderkey"], mode="dv")
        assert rep["rewritten_files"] == 0, rep
        assert rep["inserted_rows"] == 0 and rep["updated_rows"] > 0, rep

    return session_artifact_path(
        spark, sf_dir, "orders_dv_merge_demo", "orders.parquet", build
    )


@register(
    "rel_upsert_dv",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN o_orderkey % 7 = 0
                             THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
                             ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
                    AS DOUBLE) AS total_price
        FROM orders
        GROUP BY 1
    """,
    tier="relational",
    doc="MERGE-ON-READ MERGE — upsert_rows(mode='dv') (round 13, "
    "generations._upsert_dv): matched rows' old images disappear as "
    "deletion-vector positions and the update rows append — zero data "
    "rewritten (asserted in the build), completing the merge-on-read "
    "DML pair with delete_rows_dv. The oracle recomputes the repriced "
    "table from raw orders, so the hash pins that every seventh order "
    "serves its NEW image and none serves both. At 100 TB, correcting "
    "one day's rows costs the new rows plus a positions sidecar, not "
    "a slice rewrite; the policy's DV triggers fold the vector later.",
)
def q_rel_upsert_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import read_generation

    root = orders_dv_merge_demo(spark, sf_dir)
    df = read_generation(spark, _os.path.join(root, "store"))
    return df.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("price_dec", "total_price"),
    )


def orders_zorder_demo(spark: SparkSession, sf_dir: str) -> str:
    """OPTIMIZE ZORDER end-to-end, built once per (application, corpus
    content): orders land unclustered, the store re-clusters on the
    (o_orderkey, o_custkey) space-filling curve, and the build asserts
    manifest file skipping prunes selective predicates on BOTH
    dimensions — single-column clustering is blind on the second."""
    from ..sources.generations import (
        append_rows,
        optimize_store,
        plan_generation_scan,
    )

    def build(path: str) -> None:
        store = _os.path.join(path, "store")
        append_rows(
            spark,
            store,
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey",
                "o_custkey",
                "o_orderpriority",
                dec("o_totalprice").alias("price_dec"),
            ),
        )
        optimize_store(
            spark, store, cluster_by=None, n_files=8,
            zorder_by=["o_orderkey", "o_custkey"],
        )
        for col in ("o_orderkey", "o_custkey"):
            _r, kept, total = plan_generation_scan(
                store, None, [(col, "<", 100)]
            )
            assert len(kept) < total, (col, len(kept), total)

    return session_artifact_path(
        spark, sf_dir, "orders_zorder_demo", "orders.parquet", build
    )


@register(
    "rel_optimize_zorder",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        GROUP BY 1
    """,
    tier="relational",
    doc="OPTIMIZE ZORDER on a generations store (round 13 — "
    "generations.optimize_store(zorder_by=...) over "
    "layout.zorder_value's pure-JVM bit-interleaved curve): the "
    "rewrite clusters files on the multi-dimensional curve so footer "
    "min/max stay tight on EVERY listed column and manifest skipping "
    "prunes selective predicates on any of them (asserted on both "
    "dimensions in the build; single-column clustering is provably "
    "blind on the second — tests/test_zorder_store.py). The exported "
    "aggregate hash-matches the raw table, proving the re-clustering "
    "rewrite preserved every row. At 100 TB this is Delta's OPTIMIZE "
    "ZORDER: one curve exchange buys file skipping on the whole "
    "predicate family.",
)
def q_rel_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import read_generation

    root = orders_zorder_demo(spark, sf_dir)
    df = read_generation(spark, _os.path.join(root, "store"))
    return df.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_custkey").alias("sum_cust"),
        dsum("price_dec", "total_price"),
    )


def orders_dropcol_demo(spark: SparkSession, sf_dir: str) -> str:
    """Column retirement end-to-end, built once per (application,
    corpus content): orders land wide, `drop_columns` retires
    o_custkey as an explicit rewrite (evolve-appends refuse drops),
    and the build asserts the head schema narrowed while the pinned
    pre-drop generation still serves the wide shape."""
    from ..sources.generations import (
        append_rows,
        drop_columns,
        generation_head,
        read_generation,
        store_schema,
    )

    def build(path: str) -> None:
        store = _os.path.join(path, "store")
        append_rows(
            spark,
            store,
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey",
                "o_custkey",
                "o_orderpriority",
                dec("o_totalprice").alias("price_dec"),
            ),
        )
        wide_gen = generation_head(store)
        drop_columns(spark, store, ["o_custkey"])
        assert "o_custkey" not in store_schema(store).fieldNames()
        assert "o_custkey" in read_generation(
            spark, store, at=wide_gen
        ).columns

    return session_artifact_path(
        spark, sf_dir, "orders_dropcol_demo", "orders.parquet", build
    )


@register(
    "rel_drop_columns",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        GROUP BY 1
    """,
    tier="relational",
    doc="COLUMN RETIREMENT (round 12 — generations.drop_columns): the "
    "schema change evolve-appends refuse becomes an explicit rewrite "
    "— the head re-lands under the narrowed schema while the pinned "
    "pre-drop generation keeps serving the wide shape from its "
    "immutable snapshot + recorded schema (asserted in the build). "
    "The exported aggregate of the post-drop store hash-matches the "
    "raw table, proving the rewrite dropped exactly the column and "
    "none of the rows.",
)
def q_rel_drop_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.generations import read_generation

    root = orders_dropcol_demo(spark, sf_dir)
    df = read_generation(spark, _os.path.join(root, "store"))
    return df.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("price_dec", "total_price"),
    )
