"""All 22 classic TPC-H query shapes over the driver testdata.

These are the workloads a reference user actually runs against a
compacted Parquet lake; each exercises a different plan archetype
(filter-heavy join + top-k, star joins, correlated EXISTS/NOT EXISTS,
scalar subqueries, conditional aggregation, distinct-count bridges,
nested semi-joins). Q2/Q4/Q9/Q11/Q12/Q13/Q16/Q20/Q21 are adapted to the
trimmed testdata schema (no partsupp, no commit/receipt dates — see the
section comment below) but keep the original correlation and join
topology. All H-checked with decimal-exact money sums and total
ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kompactor_spark.fixedpoint import dec
from kompactor_spark.queries import register
from kompactor_spark.session import dim_broadcast
from kompactor_spark.tables import loader


_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"


def _revenue() -> F.Column:
    return dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - dec("l_discount"))


# --------------------------------------------------------------------------
# Q3 — shipping priority: unshipped orders of one segment, top revenue
# --------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(SUM({_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    T = loader(sf_dir, spark)
    cut = "1997-03-15 00:00:00"
    c = T("customer").where(F.col("c_mktsegment") == "BUILDING")
    o = T("orders").where(F.col("o_orderdate") < cut)
    li = T("lineitem").where(F.col("l_shipdate") > cut)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q5 — local supplier volume: revenue where supplier and customer share
# the nation, per nation of one region and one year
# --------------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name,
           CAST(SUM({_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    T = loader(sf_dir, spark)
    o = T("orders").where(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00") & (F.col("o_orderdate") < "1997-01-01 00:00:00")
    )
    c, li, s = T("customer"), T("lineitem"), T("supplier")
    n, r = T("nation"), T("region").where(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# --------------------------------------------------------------------------
# Q10 — returned-item reporting: top customers by lost revenue
# --------------------------------------------------------------------------
@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM({_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE) AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    T = loader(sf_dir, spark)
    o = T("orders").where(
        (F.col("o_orderdate") >= "1995-10-01 00:00:00") & (F.col("o_orderdate") < "1996-01-01 00:00:00")
    )
    li = T("lineitem").where(F.col("l_returnflag") == "R")
    c, n = T("customer"), T("nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q6 — forecast revenue change: single-table scan + predicate stack +
# scalar aggregate. The canonical pushdown test: every predicate reaches
# the Parquet scan.
# --------------------------------------------------------------------------
@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("lineitem")
        .where(
            (F.col("l_shipdate") >= "1996-01-01 00:00:00")
            & (F.col("l_shipdate") < "1997-01-01 00:00:00")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount", 2, 4)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# Q7 — volume shipping between two nations, by supplier/customer nation
# direction and ship year
# --------------------------------------------------------------------------
@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM({_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_6')
        OR (n1.n_name = 'NATION_6' AND n2.n_name = 'NATION_9'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n1.n_name, n2.n_name, CAST(year(l.l_shipdate) AS BIGINT)
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    T = loader(sf_dir, spark)
    n1 = T("nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = T("nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    li = T("lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1998-01-01 00:00:00")
    )
    pair = (F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_6") | (
        F.col("supp_nation") == "NATION_6"
    ) & (F.col("cust_nation") == "NATION_9")
    return (
        T("supplier")
        .join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(T("orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(T("customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q8 — national market share: NATION_9's share of STANDARD-part revenue
# among AMERICA-region customers, per order year
# --------------------------------------------------------------------------
@register(
    "q8_market_share",
    oracle=f"""
    WITH v AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             {_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')} AS volume,
             n1.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      JOIN region r ON n2.n_regionkey = r.r_regionkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'STANDARD'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
    SELECT o_year,
           round(CAST(SUM(CASE WHEN supp_nation = 'NATION_9' THEN volume
                                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM v
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    T = loader(sf_dir, spark)
    n1 = T("nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = T("nation").select(F.col("n_nationkey").alias("n2_key"), "n_regionkey")
    o = T("orders").where(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00")
        & (F.col("o_orderdate") < "1998-01-01 00:00:00")
    )
    vol = _revenue()
    nation_vol = F.when(F.col("supp_nation") == "NATION_9", vol).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        dim_broadcast(T("part").where(F.col("p_type") == "STANDARD"))
        .join(T("lineitem"), F.col("p_partkey") == F.col("l_partkey"))
        .join(dim_broadcast(T("supplier")), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(T("customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(
            F.broadcast(T("region").where(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(
                F.sum(nation_vol).cast("double") / F.sum(vol).cast("double"), 6
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q14 — promo revenue share over one ship month (join + conditional agg
# ratio)
# --------------------------------------------------------------------------
@register(
    "q14_promo_revenue",
    oracle=f"""
    SELECT round(CAST(100 AS DOUBLE)
                 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                 THEN {_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}
                                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(SUM({_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE), 6) AS promo_revenue,
           count(*) AS n
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark, sf_dir):
    T = loader(sf_dir, spark)
    li = T("lineitem").where(
        (F.col("l_shipdate") >= "1996-09-01 00:00:00")
        & (F.col("l_shipdate") < "1996-10-01 00:00:00")
    )
    vol = _revenue()
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0).cast("decimal(18,4)"))
    return (
        li.join(dim_broadcast(T("part")), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0) * F.sum(promo).cast("double") / F.sum(vol).cast("double"), 6
            ).alias("promo_revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# Q18 — large-volume customers: orders whose total quantity exceeds the
# threshold (agg → filter → re-join shape)
# --------------------------------------------------------------------------
@register(
    "q18_large_volume_customer",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS totalprice,
           CAST(SUM(l.l_quantity) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customer(spark, sf_dir):
    T = loader(sf_dir, spark)
    li = T("lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_tq"))
        .where(F.col("_tq") > 300)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        T("customer")
        .join(T("orders"), F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(dim_broadcast(big), F.col("o_orderkey") == F.col("big_orderkey"), "left_semi")
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue: correlated scalar-subquery shape,
# decorrelated as a per-part average joined back (the Catalyst-friendly
# rewrite of `l_quantity < 0.2 * (SELECT avg ... WHERE same part)`)
# --------------------------------------------------------------------------
@register(
    "q17_small_qty_revenue",
    oracle="""
    SELECT round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly,
           count(*) AS n
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """,
)
def q17_small_qty_revenue(spark, sf_dir):
    # Threshold determinism: l_quantity values are integral, so
    # avg = exact-sum / exact-count is bit-identical across engines.
    T = loader(sf_dir, spark)
    li = T("lineitem")
    avgq = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thr")
    )
    return (
        li.join(
            dim_broadcast(T("part").where(F.col("p_brand") == "Brand#1")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(avgq, F.col("l_partkey") == F.col("ap_partkey"))
        .where(F.col("l_quantity") < F.col("qty_thr"))
        .agg(
            F.round(F.sum(dec("l_extendedprice")).cast("double") / 7.0, 6).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# Q22 — global sales opportunity: above-average-balance customers with
# no recent orders (scalar subquery + anti-join)
# --------------------------------------------------------------------------
@register(
    "q22_sales_opportunity",
    oracle="""
    SELECT CAST(c.c_nationkey AS INT) AS c_nationkey,
           count(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                         FROM customer c2 WHERE c2.c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c.c_nationkey
    ORDER BY c_nationkey
    """,
)
def q22_sales_opportunity(spark, sf_dir):
    # Threshold = exact decimal sum / exact count, then ONE double
    # division — order-independent, so both engines agree to the bit
    # (a raw double avg() would drift in the last ulp).
    T = loader(sf_dir, spark)
    cust = T("customer")
    thr = (
        cust.where(F.col("c_acctbal") > 0)
        .agg((F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("bal_thr"))
    )
    recent = (
        T("orders")
        .where(F.col("o_orderdate") >= "2000-01-01 00:00:00")
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.join(F.broadcast(thr))
        .where(F.col("c_acctbal") > F.col("bal_thr"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# Q19 — discounted revenue: disjunctive multi-attribute predicate over a
# join (OR-of-ANDs; exercises CNF conversion and partial pushdown of
# the common part-key conjunct)
# --------------------------------------------------------------------------
@register(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT CAST(SUM({_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
)
def q19_discounted_revenue(spark, sf_dir):
    T = loader(sf_dir, spark)
    q = F.col("l_quantity")
    branch = lambda brand, size_hi, q_lo, q_hi: (
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, size_hi)
        & (q >= q_lo)
        & (q <= q_hi)
    )
    return (
        T("lineitem")
        .join(dim_broadcast(T("part")), F.col("p_partkey") == F.col("l_partkey"))
        .where(branch("Brand#1", 15, 1, 11) | branch("Brand#2", 25, 10, 20) | branch("Brand#3", 35, 20, 30))
        .agg(
            F.sum(_revenue()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# Q15 — top supplier: revenue view over a quarter, then the supplier(s)
# hitting the maximum (scalar subquery over an aggregate — decorrelated
# as an agg + broadcast max join)
# --------------------------------------------------------------------------
@register(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l.l_suppkey AS supplier_no,
             SUM({_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS total_rev
      FROM lineitem l
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l.l_suppkey)
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark, sf_dir):
    # total_rev is an exact DECIMAL sum, so `= MAX(...)` is a safe
    # equality across engines (never do this on raw double sums).
    T = loader(sf_dir, spark)
    rev = (
        T("lineitem")
        .where(
            (F.col("l_shipdate") >= "1996-01-01 00:00:00")
            & (F.col("l_shipdate") < "1996-04-01 00:00:00")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_revenue()).alias("total_rev"))
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        T("supplier")
        .join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("max_rev"))
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_rev"))
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# The remaining TPC-H archetypes (Q2, Q4, Q9, Q11, Q12, Q13, Q16, Q20, Q21).
#
# The driver testdata trims the classic schema — there is no `partsupp`
# table and lineitem lacks l_commitdate / l_receiptdate / l_shipmode
# (FIXTURES.md). Each query below keeps the ORIGINAL's plan archetype
# (the part Catalyst must get right: correlation shape, join topology,
# agg placement) while substituting available columns:
#   * "supply offers" are derived from lineitem (l_partkey, l_suppkey)
#     group-bys where partsupp is required (Q2, Q11, Q16, Q20);
#   * "lateness" is l_shipdate > o_orderdate + INTERVAL (Q4, Q12, Q21);
#   * l_returnflag stands in for l_shipmode's low-cardinality axis (Q12).
# Reference parity: these are workloads an InfluxDB-3 lake user runs via
# external engines — the reference's own data plane is scan+sort+write
# (kompactor.ts:107-111); the relational surface is our engine's extension.
# --------------------------------------------------------------------------


# Q2 — min-cost supplier: correlated MIN subquery over region-scoped
# offers, decorrelated as a per-part MIN join (classic Q2 shape).
@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH offers AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS offer_price
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    roffers AS (
      SELECT o.l_partkey, o.offer_price, s.s_acctbal, s.s_name, n.n_name
      FROM offers o
      JOIN supplier s ON o.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'),
    best AS (
      SELECT l_partkey, MIN(offer_price) AS min_price
      FROM roffers GROUP BY l_partkey)
    SELECT ro.s_acctbal, ro.s_name, ro.n_name, p.p_partkey, p.p_type, ro.offer_price
    FROM part p
    JOIN roffers ro ON ro.l_partkey = p.p_partkey
    JOIN best b ON b.l_partkey = p.p_partkey AND ro.offer_price = b.min_price
    WHERE p.p_size <= 15 AND p.p_type = 'STANDARD'
    ORDER BY ro.s_acctbal DESC, ro.n_name, ro.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    # MIN over raw doubles is exact (no summation), so the equality join
    # on offer_price = min_price is safe cross-engine.
    T = loader(sf_dir, spark)
    offers = (
        T("lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("offer_price"))
    )
    n, r = T("nation"), T("region").where(F.col("r_name") == "EUROPE")
    s = (
        T("supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    roffers = offers.join(s, offers.l_suppkey == s.s_suppkey).select(
        "l_partkey", "offer_price", "s_acctbal", "s_name", "n_name"
    )
    best = roffers.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("offer_price").alias("min_price")
    )
    p = T("part").where((F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD"))
    return (
        dim_broadcast(p)
        .join(roffers, roffers.l_partkey == p.p_partkey)
        .join(
            best,
            (F.col("b_partkey") == p.p_partkey)
            & (F.col("offer_price") == F.col("min_price")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type", "offer_price")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# Q4 — order-priority checking: correlated EXISTS (late lineitem) as a
# left-semi join with a cross-table predicate, then a tiny group-by.
@register(
    "q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    T = loader(sf_dir, spark)
    o = T("orders").where(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00")
        & (F.col("o_orderdate") < "1996-04-01 00:00:00")
    )
    li = T("lineitem").select("l_orderkey", "l_shipdate")
    cond = (o.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# Q9 — product-type profit: 5-way join with a substring part filter and
# per-(nation, year) profit. Cost term uses p_retailprice (no partsupp);
# all money math in DECIMAL so the SUM is order-independent.
@register(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(date_part('year', o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
             - CAST(p.p_retailprice AS DECIMAL(9,2)) * CAST(0.5 AS DECIMAL(2,1))
               * CAST(l.l_quantity AS DECIMAL(9,2))
           ) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY n.n_name, date_part('year', o.o_orderdate)
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark, sf_dir):
    T = loader(sf_dir, spark)
    li = T("lineitem")
    p = T("part").where(F.col("p_name").like("%bolt%"))
    s, o, n = T("supplier"), T("orders"), T("nation")
    profit = _revenue() - (
        dec("p_retailprice", 2, 9)
        * F.lit(0.5).cast("decimal(2,1)")
        * dec("l_quantity", 2, 9)
    )
    return (
        li.join(dim_broadcast(p), li.l_partkey == p.p_partkey)
        .join(dim_broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


# Q11 — important parts: group-by value per part for one nation's
# suppliers, filtered against a scalar subquery (share of the global
# total). Threshold compared in exact DECIMAL (value*1000 > total).
@register(
    "q11_important_parts",
    oracle="""
    WITH val AS (
      SELECT l.l_partkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS value_dec
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_7'
      GROUP BY l.l_partkey)
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM val
    WHERE CAST(value_dec AS DECIMAL(18,2)) * CAST(1000 AS DECIMAL(4,0))
          > (SELECT SUM(value_dec) FROM val)
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_important_parts(spark, sf_dir):
    T = loader(sf_dir, spark)
    s = (
        T("supplier")
        .join(
            F.broadcast(T("nation").where(F.col("n_name") == "NATION_7")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    val = (
        T("lineitem")
        .join(dim_broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(dec("l_extendedprice")).alias("value_dec"))
    )
    total = val.agg(F.sum("value_dec").alias("total_dec"))
    return (
        val.join(F.broadcast(total))
        .where(
            F.col("value_dec").cast("decimal(18,2)") * F.lit(1000).cast("decimal(4,0)")
            > F.col("total_dec")
        )
        .select("l_partkey", F.col("value_dec").cast("double").alias("part_value"))
        # Round 15 barrier (scripts/r15_untimed_ab_out.json, 0.57 ->
        # 0.49 s sf1): the sort's sampling pass re-ran the lineitem agg
        # + both broadcast probes; the barrier shuffles only the few
        # above-threshold parts.
        .repartition("part_value", "l_partkey")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


# Q12 — ship-class priority counts: join + conditional aggregation.
# l_returnflag is the low-cardinality axis (no l_shipmode in testdata);
# "late" lines ship >30 days after the order date.
@register(
    "q12_late_lines_by_class",
    oracle="""
    SELECT l.l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    GROUP BY l.l_returnflag
    ORDER BY ship_class
    """,
)
def q12_late_lines_by_class(spark, sf_dir):
    T = loader(sf_dir, spark)
    li = T("lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1997-01-01 00:00:00")
    )
    o = T("orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .where(li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS"))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


# Q13 — customer distribution: left outer join with an ON-clause filter,
# per-customer count, then a histogram over the counts.
@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark, sf_dir):
    T = loader(sf_dir, spark)
    c = T("customer")
    o = T("orders").where(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# Q16 — supplier counts per part attribute: distinct-count over a
# bridge join (lineitem stands in for partsupp) with a NOT IN
# supplier blacklist (anti-join).
@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#45'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 7, 10, 15, 23, 29, 36)
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_part_counts(spark, sf_dir):
    T = loader(sf_dir, spark)
    p = T("part").where(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 15, 23, 29, 36)
    )
    bad = T("supplier").where(F.col("s_acctbal") < 1000).select("s_suppkey")
    return (
        T("lineitem")
        .join(dim_broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(dim_broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# Q20 — part promotion: nested IN subqueries (part-name semi-join inside
# a grouped HAVING semi-join inside a supplier semi-join).
@register(
    "q20_part_promotion",
    oracle="""
    SELECT s.s_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_3'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        WHERE l.l_partkey IN
              (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
               > CAST(50 AS DECIMAL(18,2)))
    ORDER BY s.s_name
    """,
)
def q20_part_promotion(spark, sf_dir):
    T = loader(sf_dir, spark)
    red = T("part").where(F.col("p_name").like("red%")).select("p_partkey")
    heavy = (
        T("lineitem")
        .where(
            (F.col("l_shipdate") >= "1996-01-01 00:00:00")
            & (F.col("l_shipdate") < "1997-01-01 00:00:00")
        )
        .join(dim_broadcast(red), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
        .where(F.col("qty") > F.lit(50).cast("decimal(18,2)"))
        .select("l_suppkey")
    )
    n = T("nation").where(F.col("n_name") == "NATION_3")
    return (
        T("supplier")
        .join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name")
        .orderBy("s_name")
    )


# Q21 — suppliers who kept orders waiting: EXISTS (another supplier on
# the order) + NOT EXISTS (another LATE supplier), decorrelated in Spark
# as one per-order aggregate (distinct suppliers + late-supplier set)
# instead of two correlated scans — one shuffle on l_orderkey.
@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
      AND n.n_name = 'NATION_4'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)
def q21_waiting_suppliers(spark, sf_dir):
    T = loader(sf_dir, spark)
    o = (
        T("orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    l = (
        T("lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
    )
    per_order = l.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("nsupp"),
        F.collect_set(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_supps"),
    )
    l1 = (
        l.where(F.col("late"))
        .drop("o_orderkey", "o_orderdate", "l_shipdate", "late")
        .join(per_order, F.col("l_orderkey") == F.col("po_orderkey"))
        .where((F.col("nsupp") > 1) & (F.size("late_supps") == 1))
    )
    n = T("nation").where(F.col("n_name") == "NATION_4")
    s = T("supplier").join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    return (
        l1.join(dim_broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )
