"""Scale-path operators, H-checked (SURVEY §7 M6).

Skew-safe plans must produce EXACTLY the unsalted answer — so the
DuckDB oracle runs the plain query and the hash compare proves the
salted rewrite is semantics-preserving.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kompactor_spark.fixedpoint import dec
from kompactor_spark.operators.skew import salted_agg, salted_broadcast_dim_join
from kompactor_spark.queries import register
from kompactor_spark.tables import loader


# --------------------------------------------------------------------------
# Z1 — salted two-phase aggregation over a hot-keyed column
# --------------------------------------------------------------------------
@register(
    "z1_salted_agg",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           CAST(MAX(user_id) AS BIGINT) AS max_user
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def z1_salted_agg(spark, sf_dir):
    T = loader(sf_dir, spark)
    out = salted_agg(
        T("events"),
        keys=["event_type"],
        aggs={
            "n_events": F.count(F.lit(1)),
            "total_value": F.sum(dec("value", 6)),
            "max_user": F.max("user_id"),
        },
        unique_cols=["event_id"],
        buckets=16,
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("total_value").cast("double").alias("total_value"),
        F.col("max_user").cast("bigint").alias("max_user"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Z2 — salted broadcast dim join (fact never shuffles, hot keys spread)
# --------------------------------------------------------------------------
@register(
    "z2_salted_join",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def z2_salted_join(spark, sf_dir):
    T = loader(sf_dir, spark)
    joined = salted_broadcast_dim_join(
        T("orders"),
        T("customer"),
        fact_key="o_custkey",
        dim_key="c_custkey",
        fact_unique=["o_orderkey"],
        buckets=8,
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Z3 — shuffle-hash-join hint: for a mid-size build side that's too big
# to broadcast but cheap to hash, SHUFFLE_HASH skips the sort both
# SortMergeJoin sides would pay. The plan test pins ShuffledHashJoin —
# at 100 TB this is the difference between 2 sorts of the fact and 0.
# --------------------------------------------------------------------------
@register(
    "z3_shuffle_hash_join",
    oracle="""
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
)
def z3_shuffle_hash_join(spark, sf_dir):
    T = loader(sf_dir, spark)
    o = T("orders").hint("shuffle_hash")
    li = T("lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(dec("l_extendedprice")).cast("double").alias("price_sum"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# A16 — exact moments: count / mean / variance via DECIMAL power sums
# (sum, sum of squares are exact and order-independent; the only double
# ops are the two final divisions) — the cross-engine-deterministic way
# to compute second moments, vs raw stddev_samp whose float summation
# order differs per engine/partitioning.
# --------------------------------------------------------------------------
@register(
    "a16_exact_moments",
    oracle="""
    WITH sums AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS s1,
             SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS s2
      FROM events GROUP BY event_type)
    SELECT event_type, n,
           ROUND(CAST(s1 AS DOUBLE) / n, 6) AS mean_value,
           ROUND((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                 / (n - 1), 6) + 0.0 AS var_value
    FROM sums
    ORDER BY event_type
    """,
)
def a16_exact_moments(spark, sf_dir):
    T = loader(sf_dir, spark)
    v = F.col("value").cast("decimal(18,6)")
    sums = (
        T("events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(v).alias("s1"),
            F.sum(v * v).alias("s2"),
        )
    )
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    return sums.select(
        "event_type",
        "n",
        F.round(s1d / F.col("n"), 6).alias("mean_value"),
        F.round((s2d - s1d * s1d / F.col("n")) / (F.col("n") - 1), 6).alias("var_value"),
    ).orderBy("event_type")
