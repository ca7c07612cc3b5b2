"""Window functions, global sort, top-k (SURVEY §2.B W1-W4, O1-O2).

Rank-family outputs cast to BIGINT on both sides (Spark row_number is
int, DuckDB's is bigint). Every window has a deterministic total order
via a unique tiebreak column.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from kompactor_spark.fixedpoint import dec
from kompactor_spark.queries import register
from kompactor_spark.tables import loader


# --------------------------------------------------------------------------
# W1 — ranking functions
# --------------------------------------------------------------------------
@register(
    "w1_ranking",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(rank()       OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4)     OVER w AS BIGINT) AS quartile,
           round(percent_rank() OVER w, 6) AS prank
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
    ORDER BY c_custkey
    """,
)
def w1_ranking(spark, sf_dir):
    T = loader(sf_dir, spark)
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        T("customer")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.rank().over(w).cast("bigint").alias("rnk"),
            F.dense_rank().over(w).cast("bigint").alias("drnk"),
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("prank"),
        )
        # Round 14 (optimization): hash barrier before the presentation
        # sort — orderBy's range sampling re-executed the 5-function
        # ranking window twice per job (scripts/r14_sortexec_ab2_out.json:
        # sf1 0.40 s -> 0.36 s; guide §7.2)
        .repartition("c_custkey")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# W2 — analytic functions: lag / lead / first_value / last_value
# --------------------------------------------------------------------------
@register(
    "w2_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           lag(o_totalprice)            OVER w AS prev_price,
           lead(o_totalprice, 1, -1.0)  OVER w AS next_price,
           first_value(o_orderkey)      OVER w AS first_order,
           last_value(o_orderkey)       OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    ORDER BY o_custkey, o_orderkey
    """,
)
def w2_lag_lead(spark, sf_dir):
    T = loader(sf_dir, spark)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        T("orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice", 1, -1.0).over(w).alias("next_price"),
            F.first("o_orderkey").over(w).alias("first_order"),
            F.last("o_orderkey").over(w_full).alias("last_order"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
# W3 — running frame: cumulative sum/count (ROWS UNBOUNDED PRECEDING),
# decimal-exact accumulation presented as double
# --------------------------------------------------------------------------
@register(
    "w3_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def w3_running_sum(spark, sf_dir):
    T = loader(sf_dir, spark)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        T("orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_total"),
            F.count("*").over(w).cast("bigint").alias("running_n"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
# W4 — sliding frames: moving average (ROWS) and RANGE frame on a numeric
# sort key. avg computed as decimal-sum / count (cross-engine float safe).
# --------------------------------------------------------------------------
@register(
    "w4_sliding_frames",
    oracle="""
    SELECT p_partkey, p_size,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2)))
                OVER (ORDER BY p_partkey ASC ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(COUNT(*) OVER (ORDER BY p_partkey ASC ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS moving_avg_price,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2)))
                OVER (ORDER BY p_size ASC RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS size_range_total
    FROM part
    ORDER BY p_partkey
    """,
)
def w4_sliding_frames(spark, sf_dir):
    T = loader(sf_dir, spark)
    w_rows = Window.orderBy(F.col("p_partkey").asc()).rowsBetween(-2, Window.currentRow)
    w_range = Window.orderBy(F.col("p_size").asc()).rangeBetween(-5, Window.currentRow)
    return (
        T("part")
        .select(
            "p_partkey",
            "p_size",
            (
                F.sum(dec("p_retailprice")).over(w_rows).cast("double")
                / F.count("*").over(w_rows).cast("double")
            ).alias("moving_avg_price"),
            F.sum(dec("p_retailprice")).over(w_range).cast("double").alias("size_range_total"),
        )
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# O1 — multi-key global sort, mixed ASC/DESC, explicit NULL order.
# NULLs manufactured via NULLIF so the null-order path is exercised.
# --------------------------------------------------------------------------
@register(
    "o1_multi_key_sort",
    oracle="""
    SELECT o_orderkey, NULLIF(o_orderpriority, '1-URGENT') AS prio, o_totalprice
    FROM orders
    WHERE o_orderkey <= 2000
    ORDER BY prio ASC NULLS FIRST, o_totalprice DESC, o_orderkey ASC
    """,
)
def o1_multi_key_sort(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("orders")
        .where(F.col("o_orderkey") <= 2000)
        .select(
            "o_orderkey",
            F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("prio"),
            "o_totalprice",
        )
        .orderBy(F.col("prio").asc_nulls_first(), F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    )


# --------------------------------------------------------------------------
# O2 — top-k: ORDER BY ... LIMIT k with unique tiebreak. Spark physical
# plan is TakeOrderedAndProject (no global sort) — asserted in tests.
# --------------------------------------------------------------------------
@register(
    "o2_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
    LIMIT 100
    """,
)
def o2_topk(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc())
        .limit(100)
    )


# --------------------------------------------------------------------------
# W6 — distribution functions: cume_dist + nth_value over a frame
# pinned to the whole partition (nth_value defaults differ across
# engines, so the frame is explicit on both sides)
# --------------------------------------------------------------------------
@register(
    "w6_distribution_funcs",
    oracle="""
    SELECT s_suppkey, s_nationkey,
           round(cume_dist() OVER w, 6) AS cdist,
           round(CAST(nth_value(s_acctbal, 2) OVER (PARTITION BY s_nationkey
                    ORDER BY s_acctbal DESC, s_suppkey ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE), 6) + 0.0 AS second_bal
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey ASC)
    ORDER BY s_suppkey
    """,
)
def w6_distribution_funcs(spark, sf_dir):
    T = loader(sf_dir, spark)
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey").asc()
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        T("supplier")
        .select(
            "s_suppkey",
            "s_nationkey",
            F.round(F.cume_dist().over(w), 6).alias("cdist"),
            F.round(F.nth_value("s_acctbal", 2).over(wfull).cast("double"), 6).alias("second_bal"),
        )
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# W7 — share-of-total (ratio_to_report): per-nation revenue share of
# the whole and of its region, via unbounded window sums — no self-join
# --------------------------------------------------------------------------
@register(
    "w7_share_of_total",
    oracle="""
    WITH nat AS (
      SELECT n.n_name, n.n_regionkey,
             SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS bal
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, n.n_regionkey)
    SELECT n_name,
           round(CAST(bal AS DOUBLE) / CAST(SUM(bal) OVER () AS DOUBLE), 6) + 0.0 AS share_total,
           round(CAST(bal AS DOUBLE) / CAST(SUM(bal) OVER (PARTITION BY n_regionkey) AS DOUBLE), 6) + 0.0 AS share_region
    FROM nat
    ORDER BY n_name
    """,
)
def w7_share_of_total(spark, sf_dir):
    T = loader(sf_dir, spark)
    nat = (
        T("customer")
        .join(T("nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "n_regionkey")
        .agg(F.sum(dec("c_acctbal")).alias("bal"))
    )
    w_all = Window.partitionBy()
    w_reg = Window.partitionBy("n_regionkey")
    return (
        nat.select(
            "n_name",
            F.round(F.col("bal").cast("double") / F.sum("bal").over(w_all).cast("double"), 6).alias("share_total"),
            F.round(F.col("bal").cast("double") / F.sum("bal").over(w_reg).cast("double"), 6).alias("share_region"),
        )
        .orderBy("n_name")
    )
