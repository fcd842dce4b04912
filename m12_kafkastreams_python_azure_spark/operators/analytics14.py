"""Fourteenth query wave: the remaining TPC-H-shaped analytics the
testdata schema can express — completed by the round-18 wave below, after which Q2/Q9/Q11/Q16/Q20 (partsupp-dependent) are the only TPC-H shapes out of reach (reference parity is long complete — these
widen the analytic surface the way a warehouse user expects; cf. the
reference's ksql aggregation surface, /root/reference/ci_cd/ksql/*.json,
which this engine generalizes).

The testdata has no partsupp / commitdate / receiptdate / phone /
container columns, so Q2/Q9/Q11/Q16/Q20 are out of reach and Q19/Q21/Q22
are adapted to the columns that exist (the adaptation is noted per
query). Implemented here:

- ``volume_shipping_q7``   — bidirectional nation-pair revenue by year
- ``market_share_q8``      — one nation's share of a region's part-type
                             revenue by year
- ``returned_items_q10``   — top customers by returned-line revenue
- ``top_supplier_q15``     — supplier(s) achieving max quarterly revenue
- ``small_qty_revenue_q17`` — revenue lost to small-quantity orders
- ``disjunctive_revenue_q19`` — OR-of-conjunctions predicate revenue
- ``lone_fault_supplier_q21`` — suppliers solely at fault in
                             multi-supplier orders (returnflag stands in
                             for the missing receipt/commit dates)
- ``dormant_rich_customers_q22`` — above-average-balance customers with
                             no recent orders, by market segment
- ``shipping_priority_q3``  — top-10 unshipped orders by revenue for one
                             segment (o_orderpriority stands in for the
                             missing o_shippriority)
- ``local_supplier_volume_q5`` — per-nation revenue where customer and
                             supplier share the nation, one region/year
- ``customer_distribution_q13`` — order-count distribution per customer
                             including zero-order customers (priority
                             exclusion stands in for the missing
                             o_comment NOT LIKE)
- ``large_volume_customer_q18`` — customers with a single order above a
                             quantity threshold (single lineitem scan)

Scale notes (100 TB): every dimension that reaches a fact join is
broadcast (region 5 rows, nation 25, filtered part/supplier slices);
the only big-big shuffles are lineitem⋈orders and orders⋈customer on
their natural keys, which is the minimum any engine pays. Q21's classic
double-correlated EXISTS/NOT-EXISTS is re-expressed as a per
(order, supplier) aggregation plus a bounded window over l_orderkey —
one fact scan, zero self-joins (a test pins the single-scan plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table

# Nation pair for Q7 / nation+region+type for Q8 (arbitrary but fixed;
# chosen from the generated dimension values so every slice is non-empty
# at sf0.001).
Q7_NATION_A = "NATION_3"
Q7_NATION_B = "NATION_9"
Q8_NATION = "NATION_5"
Q8_REGION = "ASIA"
Q8_TYPE = "ECONOMY"


def _revenue_dec() -> F.Column:
    """DECIMAL-exact revenue term (the region_revenue pattern,
    analytics.py): the fixture's money columns are 2/4-decimal closed,
    the decimal product is exact at (18,6), and a decimal SUM is
    partition-order-independent — the property a double sum loses at
    scale (the round-13 sf1 sweep caught three queries whose accumulated
    ulp error crossed the cent-rounding boundary; every large-group
    ROUND(SUM(money), 2) carries the same hazard at 100x). Callers
    round the exact sum and cast back to double for hash-dtype
    stability."""
    return F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(5,4)")
    )


#: Oracle spelling of _revenue_dec (DuckDB decimal arithmetic).
_REV_DEC_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (1 - CAST(l_discount AS DECIMAL(5,4)))"
)


def q_volume_shipping_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue shipped between two nations, both
    directions, by ship year. The two 1-nation dim slices are broadcast
    so the fact table is filtered to the pair BEFORE the lineitem⋈orders
    shuffle — the 25× reduction happens at the scan end of the plan."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(Q7_NATION_A, Q7_NATION_B)
    )
    s2 = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    c2 = c.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("cust_nation"))),
        c.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey", "cust_nation")
    return (
        li.join(F.broadcast(s2), li.l_suppkey == s2.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c2, o.o_custkey == c2.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.round(F.sum(_revenue_dec()), 2).cast("double").alias("revenue"))
    )


ORACLE_VOLUME_SHIPPING_Q7 = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(ROUND(sum({_REV_DEC_SQL}), 2) AS DOUBLE) AS revenue
FROM lineitem, orders, customer, supplier, nation n1, nation n2
WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
  AND c_custkey = o_custkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND ((n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
    OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}'))
GROUP BY 1, 2, 3
"""


def q_market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: {Q8_NATION}'s share of {Q8_REGION}'s revenue on
    parts of type {Q8_TYPE}, by order year. The conditional-sum /
    total-sum ratio is ONE aggregation (no second pass); part is
    pre-filtered on type so the 6× selectivity lands in the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE)
    # customer side: customers in the target region (nation⋈region both
    # broadcast; the surviving customer set is the region's 1/5 slice)
    n_r = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey"
    )
    c2 = c.join(F.broadcast(n_r), c.c_nationkey == F.col("n_nationkey")).select(
        "c_custkey"
    )
    s2 = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    vol = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(s2), li.l_suppkey == s2.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c2, o.o_custkey == c2.c_custkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            _revenue_dec().alias("vol"),
            "supp_nation",
        )
    )
    # decimal sums are exact, so the ratio divides two DETERMINISTIC
    # doubles — one double division per group, identical on any engine
    # and any partitioning (dividing the decimals directly would instead
    # expose the two engines' differing decimal-division scale rules)
    target = F.when(F.col("supp_nation") == Q8_NATION, F.col("vol")).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return vol.groupBy("o_year").agg(
        F.round(
            F.sum(target).cast("double") / F.sum("vol").cast("double"), 6
        ).alias("mkt_share"),
        F.round(F.sum("vol"), 2).cast("double").alias("total_vol"),
    )


ORACLE_MARKET_SHARE_Q8 = f"""
SELECT year(o_orderdate) AS o_year,
       ROUND(CAST(sum(CASE WHEN n2.n_name = '{Q8_NATION}'
                      THEN {_REV_DEC_SQL}
                      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(sum({_REV_DEC_SQL}) AS DOUBLE), 6) AS mkt_share,
       CAST(ROUND(sum({_REV_DEC_SQL}), 2) AS DOUBLE) AS total_vol
FROM lineitem, orders, customer, supplier, part, nation n1, nation n2,
     region
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
  AND r_name = '{Q8_REGION}' AND s_nationkey = n2.n_nationkey
  AND p_type = '{Q8_TYPE}'
GROUP BY 1
"""


def q_returned_items_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top 20 customers by revenue of RETURNED lines for
    orders placed in one quarter. The returnflag + date predicates push
    into both fact scans; nation is broadcast; top-20 runs as
    TakeOrderedAndProject (no global sort materialization). Revenue is
    rounded before ranking and tie-broken by custkey so the LIMIT
    selection is engine-deterministic."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(_revenue_dec()), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


ORACLE_RETURNED_ITEMS_Q10 = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(ROUND(sum({_REV_DEC_SQL}), 2) AS DOUBLE) AS revenue
FROM lineitem, orders, customer, nation
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND c_nationkey = n_nationkey AND l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_top_supplier_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum revenue over one
    quarter. The scalar-subquery max is a 1-row aggregate broadcast back
    onto the per-supplier totals (never a window over all suppliers);
    revenue is rounded to cents on BOTH sides of the equality so the
    max-match is stable across engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum(_revenue_dec()), 2).cast("double").alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.max_revenue)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


ORACLE_TOP_SUPPLIER_Q15 = f"""
WITH revenue AS (
  SELECT l_suppkey,
         CAST(ROUND(sum({_REV_DEC_SQL}), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue, supplier
WHERE l_suppkey = s_suppkey
  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def q_small_qty_revenue_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: yearly revenue that would be lost by refusing
    small-quantity orders of one brand's small parts (no container column
    in this schema, so p_size <= 15 stands in for the container slice).
    The per-part average is an aggregate over the SAME filtered join —
    computed once, joined back on partkey; the brand/size filter is
    broadcast so the fact scan is pruned before any shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 15)
    )
    sel = li.join(
        F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    avg_qty = sel.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cap")
    )
    return (
        sel.join(F.broadcast(avg_qty), sel.l_partkey == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
                .cast("double") / 7.0, 2
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


ORACLE_SMALL_QTY_REVENUE_Q17 = """
WITH sel AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem, part
  WHERE p_partkey = l_partkey AND p_brand = 'Brand#23' AND p_size <= 15
),
caps AS (
  SELECT l_partkey AS a_partkey, 0.2 * avg(l_quantity) AS qty_cap
  FROM sel GROUP BY 1
)
SELECT ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / 7.0, 2) AS avg_yearly,
       count(*) AS n_lines
FROM sel, caps
WHERE l_partkey = a_partkey AND l_quantity < qty_cap
"""


def q_disjunctive_revenue_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue matching an OR of three brand/size/
    quantity conjunctions (shipmode/container predicates dropped — not in
    this schema). The join key is shared by every branch so it stays ONE
    equi-join; the disjunction is a residual filter Catalyst can still
    use for part-side pruning (brand IN (...) ∧ size <= 15 is implied)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
        & (F.col("p_size") <= 15)
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size") <= 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size") <= 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & (F.col("p_size") <= 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(branch).agg(
        F.round(F.sum(_revenue_dec()), 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


ORACLE_DISJUNCTIVE_REVENUE_Q19 = f"""
SELECT CAST(ROUND(sum({_REV_DEC_SQL}), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND ((p_brand = 'Brand#12' AND p_size <= 5
        AND l_quantity BETWEEN 1 AND 11)
    OR (p_brand = 'Brand#23' AND p_size <= 10
        AND l_quantity BETWEEN 10 AND 20)
    OR (p_brand = 'Brand#34' AND p_size <= 15
        AND l_quantity BETWEEN 20 AND 30))
"""


def lone_fault_suppliers(li: DataFrame, s: DataFrame) -> DataFrame:
    """Core of Q21 (adapted): suppliers who were the ONLY supplier with
    a returned line in a multi-supplier order. The classic
    double-correlated EXISTS / NOT EXISTS is re-expressed as a
    per-(order, supplier) aggregation plus a window over l_orderkey —
    the fact table is scanned ONCE and never self-joined (reusing the
    agg in two join branches would recompute it: Spark shares no
    subtrees, so the naive agg-join-agg spelling scans lineitem twice).
    The window partitions are per-order supplier sets — bounded by
    suppliers-per-order (~7 in TPC-H), so no skew at any corpus size.
    Top 20 by count, tie-broken by name."""
    from pyspark.sql import Window

    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("has_return")
    )
    w = Window.partitionBy("l_orderkey")
    faulted = (
        per_os.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_supp_ret", F.sum("has_return").over(w))
        .filter(
            (F.col("has_return") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_supp_ret") == 1)
        )
    )
    return (
        faulted.join(F.broadcast(s), faulted.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


def q_lone_fault_supplier_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape, adapted (l_returnflag = 'R' stands in for the
    missing receipt-after-commit predicate); see lone_fault_suppliers."""
    return lone_fault_suppliers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


ORACLE_LONE_FAULT_SUPPLIER_Q21 = """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_return
  FROM lineitem GROUP BY 1, 2
),
per_o AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(has_return) AS n_supp_ret
  FROM per_os GROUP BY 1
)
SELECT s_name, count(*) AS numwait
FROM per_os
JOIN per_o USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE has_return = 1 AND n_supp > 1 AND n_supp_ret = 1
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def q_dormant_rich_customers_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape, adapted: customers whose balance beats the
    positive-balance average (no phone column, so c_mktsegment plays the
    country-code group) and who placed NO order after 2000-01-01. The
    scalar average is a 1-row broadcast; the "no recent order" predicate
    is a LEFT ANTI join against the date-pruned orders scan — never a
    NOT IN over the full fact table."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )
    dormant = rich.join(
        o.select("o_custkey"), rich.c_custkey == o.o_custkey, "left_anti"
    )
    return dormant.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


ORACLE_DORMANT_RICH_CUSTOMERS_Q22 = """
WITH avg_bal AS (
  SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0.0
)
SELECT c_mktsegment,
       count(*) AS numcust,
       ROUND(sum(c_acctbal), 2) AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY 1
"""


# ------------------------------------------------- round-18 wave: Q3/Q5/Q13/Q18

Q3_SEGMENT = "BUILDING"
Q3_DATE = "1998-01-01"
Q5_REGION = "ASIA"
Q18_MIN_QTY = 300


def q_shipping_priority_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped orders by revenue for one market
    segment (o_shippriority is absent from the fixture — o_orderpriority
    stands in, the q21-style adaptation). The segment slice is broadcast
    into the orders join so the 1/5 customer selectivity lands before
    the lineitem⋈orders shuffle; the top-10 is a TakeOrderedAndProject
    (never a global sort), deterministically tiebroken by l_orderkey and
    mirrored in the oracle's ORDER BY."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(Q3_DATE).cast("timestamp")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(Q3_DATE).cast("timestamp")
    )
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == Q3_SEGMENT
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.select("c_custkey")), o.o_custkey == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_revenue_dec()), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


ORACLE_SHIPPING_PRIORITY_Q3 = f"""
SELECT l_orderkey,
       CAST(ROUND(sum({_REV_DEC_SQL}), 2) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = '{Q3_SEGMENT}'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '{Q3_DATE}'
  AND l_shipdate > TIMESTAMP '{Q3_DATE}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_local_supplier_volume_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: per-nation revenue where customer and supplier
    share the nation, one region, one order year. nation⋈region collapse
    to a 5-nation broadcast slice; supplier joins it broadcast too, so
    only lineitem⋈orders⋈customer shuffle — the minimum any engine pays.
    The customer-nation == supplier-nation equality is the join's resid
    predicate, exactly TPC-H's local-supplier semantics."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q5_REGION
    )
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region.select("r_regionkey")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("s_nationkey").alias("sn"), "n_name")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == F.col("sn")))
        .groupBy("n_name")
        .agg(F.round(F.sum(_revenue_dec()), 2).cast("double").alias("revenue"))
    )


ORACLE_LOCAL_SUPPLIER_VOLUME_Q5 = f"""
SELECT n_name,
       CAST(ROUND(sum({_REV_DEC_SQL}), 2) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = '{Q5_REGION}'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def q_customer_distribution_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of order counts per customer,
    INCLUDING zero-order customers (the LEFT join is the point of the
    query). The fixture has no o_comment, so the classic NOT LIKE
    '%special%requests%' exclusion is adapted to o_orderpriority <>
    '5-LOW' — same plan shape: the exclusion rides IN the join
    condition, never a post-join filter (a post-join filter would turn
    matched-but-excluded customers into c_count rows of matched size,
    not zero). Two aggregations: per-customer count (shuffle on
    c_custkey), then the |distinct-counts|-row distribution."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
    )


ORACLE_CUSTOMER_DISTRIBUTION_Q13 = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_large_volume_customer_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers whose single order exceeds
    {Q18_MIN_QTY} total quantity. The classic spelling scans lineitem
    TWICE (the IN-subquery plus the outer sum); here the per-order
    quantity aggregates ONCE, the > threshold filter prunes it to the
    0.1% tail, and orders/customer join the tiny survivor set — the q21
    single-fact-scan discipline. Quantities are integral doubles, so
    the sums are exact and partition-order-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > Q18_MIN_QTY)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
    )


ORACLE_LARGE_VOLUME_CUSTOMER_Q18 = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(sum_qty AS DOUBLE) AS sum_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > {Q18_MIN_QTY}
) big, orders, customer
WHERE big.l_orderkey = o_orderkey AND o_custkey = c_custkey
"""
