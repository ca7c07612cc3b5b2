"""Extended relational surface: statistical aggregates, exact
percentiles, pivot, decorrelated subquery (beyond SURVEY §2.B's
minimum — OLAP staples a reference user would expect).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from kompactor_spark.fixedpoint import dec
from kompactor_spark.queries import register
from kompactor_spark.tables import loader


# --------------------------------------------------------------------------
# A8 — statistical aggregates (sample stddev/variance, correlation,
# covariance) — rounded doubles per the determinism discipline
# --------------------------------------------------------------------------
@register(
    "a8_stats_aggs",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(var_samp(l_quantity), 6) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS corr_qty_price,
           round(covar_samp(l_quantity, l_discount), 6) + 0.0 AS cov_qty_disc,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def a8_stats_aggs(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("cov_qty_disc"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# A9 — exact percentiles (linear interpolation; Spark percentile() ==
# DuckDB quantile_cont())
# --------------------------------------------------------------------------
@register(
    "a9_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 6) AS p25,
           round(quantile_cont(l_quantity, 0.5), 6) AS p50,
           round(quantile_cont(l_quantity, 0.75), 6) AS p75,
           round(quantile_cont(l_quantity, 0.99), 6) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def a9_percentiles(spark, sf_dir):
    T = loader(sf_dir, spark)
    # Grouped `percentile` is safe here: l_quantity has a domain-bounded
    # distinct set (integers 1..50), so the value->count buffer is
    # O(domain), not O(rows). Continuous measures use
    # operators/quantiles (see a22/x28); SCALE.md §7d classifies.
    return (
        T("lineitem")
        .groupBy("l_returnflag")
        .agg(
            *[
                F.round(F.expr(f"percentile(l_quantity, {q})"), 6).alias(f"p{int(q * 100)}")
                for q in (0.25, 0.5, 0.75, 0.99)
            ]
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# P3 — pivot: order-status counts per nation (wide output; columns are
# the pivoted values, zero-filled)
# --------------------------------------------------------------------------
@register(
    "p3_pivot",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) FILTER (WHERE o.o_orderstatus = 'F') AS BIGINT) AS F,
           CAST(COUNT(*) FILTER (WHERE o.o_orderstatus = 'O') AS BIGINT) AS O,
           CAST(COUNT(*) FILTER (WHERE o.o_orderstatus = 'P') AS BIGINT) AS P
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def p3_pivot(spark, sf_dir):
    T = loader(sf_dir, spark)
    o, c, n = T("orders"), T("customer"), T("nation")
    wide = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "n_name",
        *[F.coalesce(F.col(s), F.lit(0)).cast("bigint").alias(s) for s in ("F", "O", "P")],
    ).orderBy("n_name")


# --------------------------------------------------------------------------
# J10 — correlated scalar subquery, decorrelated as a window aggregate:
# orders above their own customer's average order value. The window
# rewrite is ONE shuffle on o_custkey; the naive correlated form would
# re-aggregate per row. Average via exact decimal sum / count so the
# comparison is reproducible across engines.
# --------------------------------------------------------------------------
@register(
    "j10_decorrelated_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > (
      SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    ORDER BY o_orderkey
    """,
)
def j10_decorrelated_subquery(spark, sf_dir):
    T = loader(sf_dir, spark)
    w = Window.partitionBy("o_custkey")
    avg_exact = F.sum(dec("o_totalprice")).over(w).cast("double") / F.count(F.lit(1)).over(w)
    return (
        T("orders")
        .withColumn("_avg", avg_exact)
        .where(F.col("o_totalprice") > F.col("_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# A10 — GROUPING SETS via the engine's Spark-SQL surface (the DataFrame
# API exposes rollup/cube; arbitrary grouping sets are SQL) with
# grouping() flags for the super-aggregate rows
# --------------------------------------------------------------------------
_A10_SQL = """
    SELECT n_name, o_orderstatus,
           CAST(grouping(n_name) AS BIGINT) AS g_nation,
           CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY GROUPING SETS ((n_name, o_orderstatus), (n_name), ())
    ORDER BY g_nation, g_status, n_name NULLS FIRST, o_orderstatus NULLS FIRST
"""


@register("a10_grouping_sets", oracle=_A10_SQL)
def a10_grouping_sets(spark, sf_dir):
    from kompactor_spark.sql_api import run_sql

    return run_sql(spark, sf_dir, _A10_SQL)


# --------------------------------------------------------------------------
# S8 — schema evolution: two Parquet generations (a column added) read
# as one table with mergeSchema; old rows surface NULL for the new col
# --------------------------------------------------------------------------
@register(
    "s8_schema_evolution",
    oracle="""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, NULL::VARCHAR AS o_channel
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, 'web' AS o_channel
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_orderkey, o_totalprice, o_channel
    FROM unioned
    ORDER BY o_orderkey
    """,
)
def s8_schema_evolution(spark, sf_dir):
    from kompactor_spark.sources import clear_scratch
    from kompactor_spark.tables import load_table

    tag = sf_dir.rstrip("/").split("/")[-1]
    root = clear_scratch("s8_evo_" + tag)
    o = load_table(spark, sf_dir, "orders")
    gen1 = o.where(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    gen2 = (
        o.where(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_totalprice", F.lit("web").alias("o_channel"))
    )
    gen1.write.mode("overwrite").parquet(root + "/gen1")
    gen2.write.mode("overwrite").parquet(root + "/gen2")
    return (
        spark.read.option("mergeSchema", "true").parquet(root + "/gen1", root + "/gen2")
        .select("o_orderkey", "o_totalprice", "o_channel")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# A11 — fixed-width histogram over a measure (binning is the basis of
# approximate quantiles / data profiling at scale: one pass, one small
# groupBy — never a sort)
# --------------------------------------------------------------------------
@register(
    "a11_histogram",
    oracle="""
    WITH params AS (SELECT 0.0 AS lo, 500.0 AS hi, 20 AS nbins),
    binned AS (
      SELECT LEAST(GREATEST(CAST(floor((value - lo) / ((hi - lo) / nbins)) AS BIGINT), 0), nbins - 1) AS bin
      FROM events, params
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(0.0 + bin * 25.0, 6) AS bin_lo,
           round(0.0 + (bin + 1) * 25.0, 6) AS bin_hi
    FROM binned
    GROUP BY bin
    ORDER BY bin
    """,
)
def a11_histogram(spark, sf_dir):
    T = loader(sf_dir, spark)
    lo, hi, nbins = 0.0, 500.0, 20
    width = (hi - lo) / nbins
    bin_col = F.least(
        F.greatest(F.floor((F.col("value") - lo) / width).cast("bigint"), F.lit(0)),
        F.lit(nbins - 1),
    ).alias("bin")
    return (
        T("events")
        .select(bin_col)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "bin",
            "n",
            F.round(F.col("bin") * width + lo, 6).alias("bin_lo"),
            F.round((F.col("bin") + 1) * width + lo, 6).alias("bin_hi"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# A9b — approximate percentiles (one-pass sketch; tolerance-checked vs
# the exact A9 in tests — sketches are engine-specific, never H)
# --------------------------------------------------------------------------
@register("a9b_approx_percentiles", check="T: approx_percentile vs exact — estimator-specific, never hash-matches; tolerance test in tests/")
def a9b_approx_percentiles(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_quantity", 0.5, 10000).alias("p50_approx"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("price_p50_approx"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# M3 — table profiling: per-column null counts, distinct counts,
# min/max in ONE pass (the stats an optimizer/catalog maintains;
# distributed by construction — one aggregate, no per-column scans)
# --------------------------------------------------------------------------
@register(
    "m3_profile_orders",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS null_custkey,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_priority,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_orderkey,
           round(MIN(o_totalprice), 6) AS min_price,
           round(MAX(o_totalprice), 6) AS max_price,
           strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
           strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date
    FROM orders
    """,
)
def m3_profile_orders(spark, sf_dir):
    T = loader(sf_dir, spark)
    return T("orders").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_custkey")).cast("bigint").alias("null_custkey"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("nd_status"),
        F.countDistinct("o_orderpriority").cast("bigint").alias("nd_priority"),
        F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
        F.max("o_orderkey").cast("bigint").alias("max_orderkey"),
        F.round(F.min("o_totalprice"), 6).alias("min_price"),
        F.round(F.max("o_totalprice"), 6).alias("max_price"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_date"),
    )


# --------------------------------------------------------------------------
# P4 — unpivot/melt (wide → long; the inverse of P3's pivot) via the
# DataFrame unpivot API
# --------------------------------------------------------------------------
@register(
    "p4_unpivot",
    oracle="""
    SELECT c_custkey, metric, round(val, 6) + 0.0 AS val
    FROM (
      SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS val FROM customer
    )
    WHERE c_custkey <= 500
    ORDER BY c_custkey, metric
    """,
)
def p4_unpivot(spark, sf_dir):
    T = loader(sf_dir, spark)
    wide = (
        T("customer")
        .where(F.col("c_custkey") <= 500)
        .select(
            "c_custkey",
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_nationkey").cast("double").alias("nationkey"),
        )
    )
    return (
        wide.unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "val")
        .select("c_custkey", "metric", F.round("val", 6).alias("val"))
        .orderBy("c_custkey", "metric")
    )


# --------------------------------------------------------------------------
# W5 — rolling distinct count: distinct users per type over the current
# + all earlier hours (exact windowed COUNT DISTINCT, which neither
# engine supports natively). A running frame is MONOTONIC, so the exact
# identity applies: a user is inside hour h's running distinct set iff
# their FIRST event hour (per type) <= h — i.e. the rolling distinct
# count is the cumulative count of first appearances. That turns the
# naive per-row set accumulation (collect_list of per-hour user sets
# over the running frame, then flatten+distinct PER OUTPUT ROW —
# O(hours² x users/hour) per type, measured >9 min at sf10's 100x hour
# span where this plan runs in seconds) into two hash shuffles over
# events plus one running-sum window over the model-sized hourly frame.
# --------------------------------------------------------------------------
@register(
    "w5_rolling_distinct",
    oracle="""
    WITH hourly AS (
      SELECT event_type, (epoch_ns(ts) // 3600000000000) * 3600000000000 AS hour_ns,
             list(DISTINCT user_id) AS users
      FROM events GROUP BY 1, 2
    ),
    expanded AS (
      SELECT a.event_type, a.hour_ns,
             CAST(count(DISTINCT u.u) AS BIGINT) AS cum_distinct_users
      FROM hourly a
      JOIN hourly b ON a.event_type = b.event_type AND b.hour_ns <= a.hour_ns,
           LATERAL (SELECT unnest(b.users) AS u) u
      GROUP BY a.event_type, a.hour_ns
    )
    SELECT event_type, hour_ns, cum_distinct_users
    FROM expanded
    ORDER BY event_type, hour_ns
    """,
)
def w5_rolling_distinct(spark, sf_dir):
    from pyspark.sql import Window

    T = loader(sf_dir, spark)
    ev = T("events").select(
        "event_type",
        # exact long floor (subtract-modulo): float division would
        # round the >2^53 ns epoch to ~256 ns granularity and could
        # mis-bucket events within ~128 ns of an hour boundary
        (F.col("ts") - F.col("ts") % 3_600_000_000_000).cast("long").alias("hour_ns"),
        "user_id",
    )
    # first appearance per (type, user): one hash shuffle, map-side
    # combined; a first_hour is by construction one of the hours in the
    # spine, so the left join below loses nothing
    new_per_hour = (
        # count(DISTINCT user_id) drops NULLs; groupBy would keep a NULL
        # group whose min-hour reads as a first appearance (ADVICE r8)
        ev.where(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(F.min("hour_ns").alias("hour_ns"))
        .groupBy("event_type", "hour_ns")
        .agg(F.count(F.lit(1)).alias("__n_new"))
    )
    hours = ev.select("event_type", "hour_ns").distinct()
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ns")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        hours.join(new_per_hour, ["event_type", "hour_ns"], "left")
        .withColumn(
            "cum_distinct_users",
            F.sum(F.coalesce(F.col("__n_new"), F.lit(0))).over(w).cast("bigint"),
        )
        .select("event_type", "hour_ns", "cum_distinct_users")
        .orderBy("event_type", "hour_ns")
    )


# --------------------------------------------------------------------------
# P5 — empty result set: the canonicalization/hash harness must agree
# on zero rows with a pinned schema (an engine that silently returns
# NULL-typed or missing columns on empty input corrupts downstream
# unions)
# --------------------------------------------------------------------------
@register(
    "p5_empty_result",
    oracle="""
    SELECT o_orderkey, o_orderstatus
    FROM orders
    WHERE o_totalprice < 0
    ORDER BY o_orderkey
    """,
)
def p5_empty_result(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("orders")
        .where(F.col("o_totalprice") < 0)
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# J11 — null-safe equi-join: NULL keys match each other under <=>
# (Spark eqNullSafe == SQL IS NOT DISTINCT FROM), unlike plain = where
# NULL matches nothing. Keys NULLed deterministically via NULLIF.
# --------------------------------------------------------------------------
@register(
    "j11_nullsafe_join",
    oracle="""
    WITH a AS (
      SELECT c_custkey, NULLIF(c_nationkey, 3) AS k FROM customer WHERE c_custkey <= 200
    ),
    b AS (
      SELECT n_nationkey, n_name, NULLIF(n_nationkey, 3) AS k FROM nation
    )
    SELECT a.c_custkey, b.n_nationkey, b.n_name
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    ORDER BY a.c_custkey, b.n_nationkey
    """,
)
def j11_nullsafe_join(spark, sf_dir):
    T = loader(sf_dir, spark)
    a = (
        T("customer")
        .where(F.col("c_custkey") <= 200)
        .select("c_custkey", F.nullif(F.col("c_nationkey"), F.lit(3)).alias("k_a"))
    )
    b = T("nation").select(
        "n_nationkey", "n_name", F.nullif(F.col("n_nationkey"), F.lit(3)).alias("k_b")
    )
    return (
        a.join(b, a.k_a.eqNullSafe(b.k_b))
        .select("c_custkey", "n_nationkey", "n_name")
        .orderBy("c_custkey", "n_nationkey")
    )


# --------------------------------------------------------------------------
# J13 — LATERAL correlated subquery: per-customer top-2 orders by price.
# Same SQL text runs through Catalyst (via the facade) and DuckDB —
# Spark decorrelates the lateral into a ranked window under the hood.
# --------------------------------------------------------------------------
_J13_SQL = """
SELECT c.c_custkey, t.o_orderkey, CAST(t.o_totalprice AS DOUBLE) AS o_totalprice
FROM customer c,
LATERAL (SELECT o.o_orderkey, o.o_totalprice
         FROM orders o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
         LIMIT 2) t
WHERE c.c_mktsegment = 'MACHINERY'
ORDER BY c.c_custkey, o_totalprice DESC, t.o_orderkey
"""


@register("j13_lateral_topn", oracle=_J13_SQL)
def j13_lateral_topn(spark, sf_dir):
    from kompactor_spark.sql_api import run_sql

    return run_sql(spark, sf_dir, _J13_SQL)


# --------------------------------------------------------------------------
# M5 — data-quality gate: FK integrity + null constraints as one
# UNION ALL rollup (the dbt-style validation pass a lake pipeline runs
# before publishing a snapshot)
# --------------------------------------------------------------------------
@register(
    "m5_integrity_checks",
    oracle="""
    SELECT 'events_ts_nonnull' AS check_name,
           CAST(count(*) FILTER (WHERE ts IS NULL) AS BIGINT) AS violations FROM events
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           CAST(count(*) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'orders_custkey_fk',
           CAST(count(*) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
    ORDER BY check_name
    """,
)
def m5_integrity_checks(spark, sf_dir):
    T = loader(sf_dir, spark)
    ev = T("events").agg(
        F.count(F.when(F.col("ts").isNull(), 1)).cast("bigint").alias("violations")
    ).select(F.lit("events_ts_nonnull").alias("check_name"), "violations")
    li_fk = (
        T("lineitem")
        .join(T("orders"), F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("violations"))
        .select(F.lit("lineitem_orderkey_fk").alias("check_name"), "violations")
    )
    o_fk = (
        T("orders")
        .join(T("customer"), F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("violations"))
        .select(F.lit("orders_custkey_fk").alias("check_name"), "violations")
    )
    return ev.unionAll(li_fk).unionAll(o_fk).orderBy("check_name")


# --------------------------------------------------------------------------
# A13 — ordered string aggregation (listagg): nations per region as a
# canonical comma-joined sorted string
# --------------------------------------------------------------------------
@register(
    "a13_string_agg",
    oracle="""
    SELECT r.r_name,
           array_to_string(list_sort(list(n.n_name)), ',') AS nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
)
def a13_string_agg(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("region")
        .join(T("nation"), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"))
        .orderBy("r_name")
    )


# --------------------------------------------------------------------------
# A14 — predicate aggregates: count_if / bool_and / bool_or per group
# --------------------------------------------------------------------------
@register(
    "a14_bool_aggs",
    oracle="""
    SELECT o_orderstatus,
           CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_totalprice > 400000) AS any_huge
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def a14_bool_aggs(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count_if(F.col("o_totalprice") > 100000).cast("bigint").alias("n_big"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_totalprice") > 400000).alias("any_huge"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# F10 — bitwise aggregate + scalar ops (bit_and/or/xor, shifts)
# --------------------------------------------------------------------------
@register(
    "f10_bitwise",
    oracle="""
    SELECT l_returnflag,
           bit_and(CAST(l_linenumber AS BIGINT)) AS b_and,
           bit_or(CAST(l_linenumber AS BIGINT))  AS b_or,
           bit_xor(CAST(l_linenumber AS BIGINT)) AS b_xor,
           CAST(max(CAST(l_linenumber AS BIGINT) << 3) AS BIGINT) AS max_shl
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def f10_bitwise(spark, sf_dir):
    T = loader(sf_dir, spark)
    ln = F.col("l_linenumber").cast("bigint")
    return (
        T("lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.bit_and(ln).alias("b_and"),
            F.bit_or(ln).alias("b_or"),
            F.bit_xor(ln).alias("b_xor"),
            F.max(F.shiftleft(ln, 3)).cast("bigint").alias("max_shl"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# U4 — multiset set ops: EXCEPT ALL / INTERSECT ALL (bag semantics —
# duplicates preserved, unlike U3's distinct forms)
# --------------------------------------------------------------------------
@register(
    "u4_multiset_ops",
    oracle="""
    WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'),
         b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_linestatus = 'F')
    SELECT 'except_all' AS op, k, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k
    UNION ALL
    SELECT 'intersect_all', k, CAST(count(*) AS BIGINT)
    FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k
    ORDER BY op, k
    """,
)
def u4_multiset_ops(spark, sf_dir):
    T = loader(sf_dir, spark)
    li = T("lineitem")
    a = li.where(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("k"))
    b = li.where(F.col("l_linestatus") == "F").select(F.col("l_suppkey").alias("k"))
    ex = (
        a.exceptAll(b).groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.lit("except_all").alias("op"), "k", "n")
    )
    it = (
        a.intersectAll(b).groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "k", "n")
    )
    return ex.unionAll(it).orderBy("op", "k")


# --------------------------------------------------------------------------
# A15 — exact per-group mode (most frequent value) with a deterministic
# tiebreak. Engines' built-in mode() breaks ties arbitrarily, so the
# contract form is count + argmax window: one shuffle for the count,
# one partition-local window — no second pass over the data.
# --------------------------------------------------------------------------
@register(
    "a15_exact_mode",
    oracle="""
    WITH counted AS (
      SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders
      GROUP BY o_orderstatus, o_orderpriority),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_orderstatus
        ORDER BY cnt DESC, o_orderpriority) AS rn
      FROM counted)
    SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
    FROM ranked WHERE rn = 1
    ORDER BY o_orderstatus
    """,
)
def a15_exact_mode(spark, sf_dir):
    T = loader(sf_dir, spark)
    counted = (
        T("orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority")
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "cnt")
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# J14 — binned interval join: every event inside any 30-minute incident
# window opened by an error event. No equi-key exists, so the naive
# plan is a BroadcastNestedLoopJoin (quadratic); binning each interval
# to its covered hour buckets turns it into a plain equi-join on
# bucket id with a residual range filter (operators/rangejoin.py) —
# shuffle-partitioned, AQE-skew-splittable, linear in inputs.
# --------------------------------------------------------------------------
@register(
    "j14_binned_interval_join",
    oracle="""
    WITH inc AS (
      SELECT event_id AS incident_id, ts AS t0, ts + INTERVAL 30 MINUTE AS t1
      FROM events WHERE event_type = 'error')
    SELECT e.event_id, i.incident_id
    FROM events e JOIN inc i ON e.ts >= i.t0 AND e.ts <= i.t1
    ORDER BY event_id, incident_id
    """,
)
def j14_binned_interval_join(spark, sf_dir):
    from kompactor_spark.operators.rangejoin import binned_interval_join

    T = loader(sf_dir, spark)
    # µs-floor the containment domain — the oracle's predicate runs on
    # µs-truncated timestamps, so raw-ns comparisons could flip points
    # within 1 µs of a window edge under a TIMESTAMP(NANOS) round
    ts_us = F.col("ts") - F.col("ts") % 1000
    ev = T("events")
    points = ev.select("event_id", ts_us.alias("pts"))
    incidents = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        ts_us.alias("t0"),
        (ts_us + 30 * 60 * 1_000_000_000).alias("t1"),
    )
    return (
        binned_interval_join(points, incidents, "pts", "t0", "t1", bucket_ns=3600 * 1_000_000_000)
        .select("event_id", "incident_id")
        .orderBy("event_id", "incident_id")
    )


# --------------------------------------------------------------------------
# A9c — exact DISCRETE percentiles (percentile_disc: the value at row
# max(1, ceil(q*n)) of the group's sort — always an actual data point,
# unlike A9's interpolating quantile_cont). l_returnflag has THREE
# values, so a window partitioned on it serializes ~n/3 rows through
# one task per group (the low-cardinality-partition window pathology —
# measured 80 s at sf10's 60M rows, growing linearly-per-core-UNUSED
# with data). The scale shape instead computes a GLOBAL distributed
# row_number over (flag, value, tiebreak) — prefixsum's range-partition
# two-pass, parallel at any scale — and converts it to per-group rank
# by subtracting each group's exclusive offset (a 3-row window over
# the per-group counts, bounded model state). Rank targets are exact
# integers, so the picked values are bit-identical to the windowed
# plan's.
# --------------------------------------------------------------------------
@register(
    "a9c_percentile_disc",
    oracle="""
    SELECT l_returnflag,
           CAST(quantile_disc(l_quantity, 0.25) AS DOUBLE) AS p25,
           CAST(quantile_disc(l_quantity, 0.5) AS DOUBLE) AS p50,
           CAST(quantile_disc(l_quantity, 0.9) AS DOUBLE) AS p90
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def a9c_percentile_disc(spark, sf_dir):
    from kompactor_spark.operators.prefixsum import distributed_cumsum

    T = loader(sf_dir, spark)
    # Collapse-first (round 9): percentile_disc needs only, per group,
    # the cumulative ROW COUNT at each distinct value — "value at rank
    # r" == "min distinct value whose inclusive cumulative count >= r"
    # exactly, so tied rows collapse to one (value, count) cell with no
    # approximation. The prefix-sum input shrinks from |rows| to
    # |groups × distinct values| (multiplicity-independent — the dedup
    # collapse-first lesson; 60M -> 150 cells on lineitem quantities),
    # and the distributed cumsum keeps even a high-cardinality
    # collapsed frame parallel. The map-side partial agg means the
    # full-row side never shuffles.
    collapsed = (
        T("lineitem")
        .select("l_returnflag", F.col("l_quantity").cast("double").alias("q"))
        .groupBy("l_returnflag", "q")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    cum = distributed_cumsum(collapsed, ["l_returnflag", "q"], "__c", "__gcc")
    # group totals read the checkpointed cumsum frame — no second scan
    counts = cum.groupBy("l_returnflag").agg(F.sum("__c").alias("__n"))
    # exclusive per-group offsets: a window over the 3-row counts frame
    # (bounded model state — the prefixsum offsets pattern)
    w_off = (
        Window.partitionBy(F.col("__n") % F.lit(1))
        .orderBy("l_returnflag")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    counts = counts.select(
        "l_returnflag",
        "__n",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )
    joined = cum.join(F.broadcast(counts), "l_returnflag").withColumn(
        "__cc", F.col("__gcc") - F.col("__off")
    )

    def pick(p):
        target = F.greatest(F.lit(1), F.ceil(F.lit(p) * F.col("__n")))
        return F.min(F.when(F.col("__cc") >= target, F.col("q")))

    return (
        joined.groupBy("l_returnflag")
        .agg(pick(0.25).alias("p25"), pick(0.5).alias("p50"), pick(0.9).alias("p90"))
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# A20 — median absolute deviation (new round 4): the robust spread
# statistic (insensitive to the outliers that wreck stddev) — MAD =
# median(|x − median(x)|) per group. Two passes: the per-group median is
# a dims-sized aggregate broadcast back over the fact scan, then the
# deviation median aggregates the same shuffle key — no self-join on
# fact rows, no window over the whole group. Percentile interpolation
# parity with DuckDB quantile_cont is already established (a9, driver
# green); rounded to 6 before compare.
# --------------------------------------------------------------------------
@register(
    "a20_mad",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS m
      FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           round(any_value(med.m), 6) AS median_qty,
           round(quantile_cont(abs(l.l_quantity - med.m), 0.5), 6) AS mad_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem l JOIN med USING (l_returnflag)
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def a20_mad(spark, sf_dir):
    T = loader(sf_dir, spark)
    li = T("lineitem")
    med = li.groupBy("l_returnflag").agg(F.percentile("l_quantity", F.lit(0.5)).alias("m"))
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.any_value("m"), 6).alias("median_qty"),
            F.round(
                F.percentile(F.abs(F.col("l_quantity") - F.col("m")), F.lit(0.5)), 6
            ).alias("mad_qty"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# A21 — winsorized mean (new round 4): the robust-mean companion to
# A20's MAD — clamp each value into [p05, p95] before averaging, so a
# handful of outliers can't move the statistic. Two passes: per-group
# percentile bounds (dims-sized, broadcast back), then one clamped
# aggregate over the same shuffle key. The mean itself sums DECIMAL-cast
# 2-digit inputs (clamp endpoints rounded to 6) so the cross-engine sum
# is order-independent; percentile parity is established (a9).
# --------------------------------------------------------------------------
@register(
    "a21_winsorized_mean",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.05), 6) AS lo,
             round(quantile_cont(l_quantity, 0.95), 6) AS hi
      FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           round(any_value(b.lo), 6) AS p05,
           round(any_value(b.hi), 6) AS p95,
           CAST(SUM(CAST(round(greatest(b.lo, least(b.hi, l.l_quantity)) * 100)
                    AS BIGINT)) AS DOUBLE) / 100.0 / CAST(count(*) AS DOUBLE)
             AS winsorized_mean,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def a21_winsorized_mean(spark, sf_dir):
    from kompactor_spark import fixedpoint as fx

    T = loader(sf_dir, spark)
    li = T("lineitem")
    b = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.05)), 6).alias("lo"),
        F.round(F.percentile("l_quantity", F.lit(0.95)), 6).alias("hi"),
    )
    clamped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("l_quantity")))
    units = F.round(clamped * 100).cast("long")
    hi_l, lo_l = fx.limb_split(units)
    return (
        li.join(F.broadcast(b), "l_returnflag")
        .select("l_returnflag", "lo", "hi", hi_l.alias("u_hi"), lo_l.alias("u_lo"))
        .groupBy("l_returnflag")
        .agg(
            F.round(F.any_value("lo"), 6).alias("p05"),
            F.round(F.any_value("hi"), 6).alias("p95"),
            (
                fx.exact_sum("u_hi", "u_lo", 2).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("winsorized_mean"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# W14 — Pareto / revenue-concentration (new round 4): what share of
# total order revenue do the top 1%/5%/20% of customers carry — the
# Lorenz-curve points behind every "80/20" business readout. One
# aggregate per customer (exact limb sums), one global revenue rank
# window over the CUSTOMER-level rows (dims-scale, not fact-scale —
# the window never sees raw orders), cumulative share at the three
# cut ranks. Numerators and denominators are exact integer cents;
# shares are the only float ops, computed identically on both engines.
# --------------------------------------------------------------------------
@register(
    "w14_pareto_share",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS HUGEINT) AS rev_cents
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT rev_cents,
             row_number() OVER (ORDER BY rev_cents DESC, o_custkey) AS rnk,
             count(*) OVER () AS n_cust,
             sum(rev_cents) OVER () AS total_cents,
             sum(rev_cents) OVER (ORDER BY rev_cents DESC, o_custkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents
      FROM per_cust)
    SELECT CAST(pct AS BIGINT) AS top_pct,
           CAST(max(rnk) AS BIGINT) AS n_top_customers,
           round(CAST(max(cum_cents) AS DOUBLE) / CAST(max(total_cents) AS DOUBLE), 6) + 0.0
             AS revenue_share
    FROM ranked CROSS JOIN (SELECT unnest([1, 5, 20]) AS pct)
    WHERE rnk <= greatest(1, CAST(floor(n_cust * pct / 100.0) AS BIGINT))
    GROUP BY pct
    ORDER BY top_pct
    """,
)
def w14_pareto_share(spark, sf_dir):
    from kompactor_spark import fixedpoint as fx
    from kompactor_spark.operators.prefixsum import distributed_cumsums

    T = loader(sf_dir, spark)
    units = fx.to_units("o_totalprice", 2)
    hi, lo = fx.limb_split(units)
    per_cust = (
        T("orders")
        .select("o_custkey", hi.alias("h"), lo.alias("l"))
        .groupBy("o_custkey")
        .agg(fx.exact_sum("h", "l", 0).alias("rev_cents"))  # exact decimal cents
    )
    # Global rank + running revenue without a single-partition window:
    # one two-pass range prefix sum computes both (operators/prefixsum.py;
    # (rev_cents, o_custkey) is a total order). The grand totals are a
    # constant-size aggregate over the same checkpointed frame, broadcast.
    cum = distributed_cumsums(
        per_cust,
        [F.col("rev_cents").desc(), "o_custkey"],
        {"rnk": F.lit(1).cast("long"), "cum_cents": F.col("rev_cents")},
    )
    tot = cum.agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("rev_cents").alias("total_cents"),
    )
    ranked = cum.crossJoin(F.broadcast(tot)).select(
        "o_custkey", "rev_cents", "rnk", "n_cust", "total_cents", "cum_cents"
    )
    pcts = F.explode(F.array(F.lit(1), F.lit(5), F.lit(20))).alias("pct")
    return (
        ranked.select("*", pcts)
        .where(
            F.col("rnk")
            <= F.greatest(
                F.lit(1), F.floor(F.col("n_cust") * F.col("pct") / 100.0).cast("long")
            )
        )
        .groupBy(F.col("pct").cast("bigint").alias("top_pct"))
        .agg(
            F.max("rnk").cast("bigint").alias("n_top_customers"),
            (
                F.round(
                    F.max("cum_cents").cast("double") / F.max("total_cents").cast("double"), 6
                )
                + F.lit(0.0)
            ).alias("revenue_share"),
        )
        .orderBy("top_pct")
    )


# --------------------------------------------------------------------------
# W15 — exact Gini coefficient of customer revenue (the inequality
# summary behind W14's Pareto shares): G = (2·Σ i·y_i − (n+1)·Σy)/(n·Σy)
# over revenues sorted ascending (rank ties broken by customer key).
# Revenue is exact cents, ranks are integers, so every moment is an
# order-free integer sum; the single final division runs on
# DECIMAL(38)/HUGEINT operands — bit-identical cross-engine. The global
# rank is a single sort of the CUSTOMER aggregate (n_customers rows,
# tiny next to orders); at 100 TB rank with repartitionByRange + a
# per-partition offset (the same global-sort machinery as the O1 sink)
# instead of one window partition.
# --------------------------------------------------------------------------
@register(
    "w15_gini_revenue",
    oracle="""
    WITH r AS (
      SELECT o_custkey,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY o_custkey),
    rk AS (SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS i FROM r),
    m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                 CAST(SUM(rev) AS HUGEINT) AS s,
                 CAST(SUM(i * rev) AS HUGEINT) AS si
          FROM rk)
    SELECT CAST(n AS BIGINT) AS n_customers,
           round(CAST(2 * si - (n + 1) * s AS DOUBLE)
                 / CAST(n * s AS DOUBLE), 6) + 0.0 AS gini
    FROM m
    """,
)
def w15_gini_revenue(spark, sf_dir):
    from kompactor_spark.operators.prefixsum import distributed_row_number

    T = loader(sf_dir, spark)
    r = (
        T("orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev"))
    )
    # Global rank without a single-partition window: two-pass range
    # prefix count (operators/prefixsum.py). (rev, o_custkey) is a
    # total order (custkey unique post-agg), so i is deterministic.
    rk = distributed_row_number(r, ["rev", "o_custkey"], "i").select("rev", "i")
    m = rk.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("rev").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("i").cast("long") * F.col("rev")).cast("decimal(38,0)").alias("si"),
    )
    num = F.lit(2).cast("decimal(38,0)") * F.col("si") - (
        F.col("n") + F.lit(1).cast("decimal(38,0)")
    ) * F.col("s")
    den = F.col("n") * F.col("s")
    return m.select(
        F.col("n").cast("bigint").alias("n_customers"),
        (F.round(num.cast("double") / den.cast("double"), 6) + F.lit(0.0)).alias(
            "gini"
        ),
    )


# --------------------------------------------------------------------------
# A22 — equi-depth (decile) histogram of order value. Cut points are the
# 9 exact interpolated percentiles of o_totalprice; membership is
# "count of cuts strictly below the value", deterministic in both
# engines even at tied cut values; per bucket: count, min, max, and an
# exact DECIMAL total presented as DOUBLE. Round 5 moved this off
# ``F.percentile`` (whose aggregation buffer holds every distinct value
# on ONE final reducer — memory grows with the data, not the model, a
# genuine 100 TB failure mode); round 7 moved the whole shape into
# operators/quantiles.equi_depth_histogram, which dispatches on the
# Catalyst byte estimate between a fused one-job Arrow kernel (compact
# inputs) and the 2-job exact_quantile_cuts + broadcast-bucketing +
# limb-sum plan (real scale). Interpolation formula = Spark
# Percentile.getPercentile's, whose quantile_cont bit-parity is
# driver-proven by a9.
# --------------------------------------------------------------------------
_A22_PROBS = [i / 10 for i in range(1, 10)]


@register(
    "a22_equi_depth_histogram",
    oracle=f"""
    WITH cuts AS (
      SELECT quantile_cont(o_totalprice, {_A22_PROBS}) AS cs FROM orders),
    b AS (
      SELECT o_totalprice AS p,
             1 + len(list_filter(cs, c -> c < o_totalprice)) AS bucket
      FROM orders, cuts)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(p) AS lo,
           MAX(p) AS hi,
           CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM b GROUP BY bucket
    ORDER BY bucket
    """,
)
def a22_equi_depth_histogram(spark, sf_dir):
    from kompactor_spark.operators.quantiles import equi_depth_histogram

    T = loader(sf_dir, spark)
    o = T("orders").select(F.col("o_totalprice").alias("p"))
    # Round 7: the whole histogram moved into
    # operators/quantiles.equi_depth_histogram — byte-estimate dispatch
    # between a ONE-job fused Arrow kernel on compact inputs (sort +
    # cuts + searchsorted bucketing + exact unit totals in one task;
    # the sf1 bench input is 1 stage where round 6 paid cuts-job +
    # bucketing-job, VERDICT r6 #4) and the composed 2-job
    # exact_quantile_cuts + broadcast-bucketing + limb-sum plan for
    # real scale.
    return equi_depth_histogram(o, "p", _A22_PROBS, scale=2).orderBy("bucket")


# --------------------------------------------------------------------------
# A23 — two-sample A/B z-test (new round 4): users are deterministically
# assigned to variants by md5 parity (the engine-portable random split —
# same mechanism as l6_train_val_split), the per-variant mean/variance
# of event value comes from exact DECIMAL power sums (the a16 mechanism:
# integer-exact partials, order-independent, so the only float ops are
# the closed-form final expressions — bit-identical cross-engine), and
# the Welch z statistic is computed per event_type. One scan, one
# shuffle on the 5-key group; conditional aggregation instead of a
# pivot. The experiment-analysis primitive at any scale.
# --------------------------------------------------------------------------
@register(
    "a23_ab_ztest",
    oracle="""
    WITH t AS (
      SELECT event_type,
             CASE WHEN md5('ab:' || CAST(user_id AS VARCHAR)) < '8' THEN 0 ELSE 1 END AS v,
             CAST(value AS DECIMAL(18,6)) AS x
      FROM events),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) FILTER (WHERE v = 0) AS BIGINT) AS n_a,
             CAST(COUNT(*) FILTER (WHERE v = 1) AS BIGINT) AS n_b,
             CAST(SUM(x) FILTER (WHERE v = 0) AS DOUBLE) AS s1a,
             CAST(SUM(x * x) FILTER (WHERE v = 0) AS DOUBLE) AS s2a,
             CAST(SUM(x) FILTER (WHERE v = 1) AS DOUBLE) AS s1b,
             CAST(SUM(x * x) FILTER (WHERE v = 1) AS DOUBLE) AS s2b
      FROM t GROUP BY event_type)
    SELECT event_type, n_a, n_b,
           round(s1a / n_a, 6) AS mean_a,
           round(s1b / n_b, 6) AS mean_b,
           round((s1a / n_a - s1b / n_b)
                 / sqrt(((s2a - s1a * s1a / n_a) / (n_a - 1)) / n_a
                        + ((s2b - s1b * s1b / n_b) / (n_b - 1)) / n_b),
                 6) + 0.0 AS z_welch
    FROM s
    ORDER BY event_type
    """,
)
def a23_ab_ztest(spark, sf_dir):
    T = loader(sf_dir, spark)
    h = F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string")))
    x = F.col("value").cast("decimal(18,6)")
    t = T("events").select(
        "event_type", F.when(h < "8", 0).otherwise(1).alias("v"), x.alias("x")
    )
    a, b = F.col("v") == 0, F.col("v") == 1
    s = t.groupBy("event_type").agg(
        F.count(F.when(a, 1)).cast("bigint").alias("n_a"),
        F.count(F.when(b, 1)).cast("bigint").alias("n_b"),
        F.sum(F.when(a, F.col("x"))).cast("double").alias("s1a"),
        F.sum(F.when(a, F.col("x") * F.col("x"))).cast("double").alias("s2a"),
        F.sum(F.when(b, F.col("x"))).cast("double").alias("s1b"),
        F.sum(F.when(b, F.col("x") * F.col("x"))).cast("double").alias("s2b"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    s1a, s2a, s1b, s2b = F.col("s1a"), F.col("s2a"), F.col("s1b"), F.col("s2b")
    var_a = (s2a - s1a * s1a / n_a) / (n_a - 1)
    var_b = (s2b - s1b * s1b / n_b) / (n_b - 1)
    return s.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(s1a / n_a, 6).alias("mean_a"),
        F.round(s1b / n_b, 6).alias("mean_b"),
        (F.round((s1a / n_a - s1b / n_b) / F.sqrt(var_a / n_a + var_b / n_b), 6) + F.lit(0.0)).alias(
            "z_welch"
        ),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# A24 — chi-square independence cells (new round 4): the contingency
# table of event_type × md5-parity cohort with per-row expected counts
# and chi-square contributions. Observed counts are exact BIGINTs; the
# expected counts and contributions are closed-form doubles over those
# integers (no float aggregation anywhere), so the statistic is
# bit-deterministic cross-engine. Column totals are a 1-row aggregate
# of the already-aggregated 5-row table — constant-size at any input
# scale, broadcast back via cross join.
# --------------------------------------------------------------------------
@register(
    "a24_chi_square",
    oracle="""
    WITH t AS (
      SELECT event_type,
             CASE WHEN md5('chi:' || CAST(user_id AS VARCHAR)) < '8' THEN 0 ELSE 1 END AS g
      FROM events),
    ct AS (
      SELECT event_type,
             CAST(COUNT(*) FILTER (WHERE g = 0) AS BIGINT) AS o0,
             CAST(COUNT(*) FILTER (WHERE g = 1) AS BIGINT) AS o1
      FROM t GROUP BY event_type),
    tot AS (
      SELECT CAST(SUM(o0) AS DOUBLE) AS c0, CAST(SUM(o1) AS DOUBLE) AS c1,
             CAST(SUM(o0 + o1) AS DOUBLE) AS n
      FROM ct)
    SELECT event_type, o0, o1,
           round((o0 + o1) * c0 / n, 6) AS e0,
           round((o0 + o1) * c1 / n, 6) AS e1,
           round((o0 - (o0 + o1) * c0 / n) * (o0 - (o0 + o1) * c0 / n) / ((o0 + o1) * c0 / n)
                 + (o1 - (o0 + o1) * c1 / n) * (o1 - (o0 + o1) * c1 / n) / ((o0 + o1) * c1 / n),
                 6) + 0.0 AS chi2_contrib
    FROM ct, tot
    ORDER BY event_type
    """,
)
def a24_chi_square(spark, sf_dir):
    T = loader(sf_dir, spark)
    h = F.md5(F.concat(F.lit("chi:"), F.col("user_id").cast("string")))
    t = T("events").select("event_type", F.when(h < "8", 0).otherwise(1).alias("g"))
    ct = t.groupBy("event_type").agg(
        F.count(F.when(F.col("g") == 0, 1)).cast("bigint").alias("o0"),
        F.count(F.when(F.col("g") == 1, 1)).cast("bigint").alias("o1"),
    )
    tot = ct.agg(
        F.sum("o0").cast("double").alias("c0"),
        F.sum("o1").cast("double").alias("c1"),
        F.sum(F.col("o0") + F.col("o1")).cast("double").alias("n"),
    )
    o0, o1 = F.col("o0"), F.col("o1")
    rt = o0 + o1
    e0 = rt * F.col("c0") / F.col("n")
    e1 = rt * F.col("c1") / F.col("n")
    return (
        ct.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "o0",
            "o1",
            F.round(e0, 6).alias("e0"),
            F.round(e1, 6).alias("e1"),
            (F.round((o0 - e0) * (o0 - e0) / e0 + (o1 - e1) * (o1 - e1) / e1, 6) + F.lit(0.0)).alias(
                "chi2_contrib"
            ),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# J16 — broadcast band-join lookup (new round 4): classify every event
# value into a rate band from a tiny banded dimension ([lo, hi) ranges
# with a multiplier — the billing / rating-table shape) and charge it.
# The non-equi join condition would force a nested-loop join in
# general; with the band table broadcast it is a BroadcastNestedLoop
# over K=3 rows per event — linear work, no shuffle of the fact side.
# Charges are exact DECIMAL products aggregated per (event_type, band).
# --------------------------------------------------------------------------
_J16_BANDS = [(0.0, 50.0, "low", "1.00"), (50.0, 200.0, "mid", "1.25"), (200.0, None, "high", "1.50")]


@register(
    "j16_band_join_lookup",
    oracle="""
    WITH bands(lo, hi, band, mult) AS (
      VALUES (0.0, 50.0, 'low', CAST('1.00' AS DECIMAL(6,2))),
             (50.0, 200.0, 'mid', CAST('1.25' AS DECIMAL(6,2))),
             (200.0, 1e309, 'high', CAST('1.50' AS DECIMAL(6,2))))
    SELECT e.event_type, b.band,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6)) * b.mult) AS DOUBLE) AS charged
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY e.event_type, b.band
    ORDER BY e.event_type, b.band
    """,
)
def j16_band_join_lookup(spark, sf_dir):
    T = loader(sf_dir, spark)
    rows = [
        (lo, float("inf") if hi is None else hi, band, mult)
        for lo, hi, band, mult in _J16_BANDS
    ]
    bands = spark.createDataFrame(rows, "lo double, hi double, band string, mult string").select(
        "lo", "hi", "band", F.col("mult").cast("decimal(6,2)").alias("mult")
    )
    e = T("events")
    return (
        e.join(F.broadcast(bands), (e.value >= F.col("lo")) & (e.value < F.col("hi")))
        .groupBy("event_type", "band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)") * F.col("mult")).cast("double").alias("charged"),
        )
        .orderBy("event_type", "band")
    )


# --------------------------------------------------------------------------
# M10 — join-key skew diagnostic (new round 4): the pre-flight report a
# 100 TB join needs — per-key row counts for the heaviest keys, each
# key's share of the table, and the cumulative share of the top keys
# (decides broadcast vs salt vs AQE-skew-split). One keyed count, a
# constant-size total broadcast back, ranking window over the top slice
# only. Diagnostic semantics are exact: counts BIGINT, shares
# closed-form divisions.
# --------------------------------------------------------------------------
@register(
    "m10_skew_report",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM c),
    r AS (
      SELECT user_id, n, ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rk
      FROM c)
    SELECT r.user_id, r.n,
           round(r.n / tot.t, 6) AS share,
           round(SUM(r.n) OVER (ORDER BY r.rk
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / tot.t,
                 6) AS cum_share
    FROM r, tot
    WHERE r.rk <= 20
    ORDER BY r.rk
    """,
)
def m10_skew_report(spark, sf_dir):
    # Shared pipeline (operators/skew.py): top slice FIRST via
    # orderBy+limit (TakeOrderedAndProject), ranking windows over the
    # 20-row slice only — a global window before the cut would
    # serialize every key through one reducer at 100 TB.
    from kompactor_spark.operators.skew import skew_report

    T = loader(sf_dir, spark)
    return skew_report(T("events"), "user_id", top_n=20, dp=6)


# --------------------------------------------------------------------------
# A25 — exact weighted median (new round 4): the 50%-of-WEIGHT cut
# (here: the l_extendedprice at which half the shipped QUANTITY sits
# below), which is what "median order value" should almost always mean
# and which plain quantile_cont cannot express. One keyed cumulative-
# weight window with a unique (orderkey, linenumber) tie-break, an
# exact DECIMAL half-total threshold, and a MIN over qualifying rows —
# every comparison happens on exact decimals, bit-deterministic
# cross-engine. Same single-shuffle shape as every keyed window op.
# --------------------------------------------------------------------------
@register(
    "a25_weighted_median",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_extendedprice,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER
               (PARTITION BY l_returnflag
                ORDER BY l_extendedprice, l_orderkey, l_linenumber
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER
               (PARTITION BY l_returnflag) AS w
      FROM lineitem)
    SELECT l_returnflag,
           CAST(MAX(w) AS DOUBLE) AS total_weight,
           MIN(CASE WHEN cw * 2 >= w THEN l_extendedprice END) AS weighted_median
    FROM c
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def a25_weighted_median(spark, sf_dir):
    from kompactor_spark.operators.prefixsum import distributed_cumsum

    T = loader(sf_dir, spark)
    # l_returnflag has THREE values: a window partitioned on it funnels
    # ~n/3 rows through one task per group (measured 139 s at sf10) —
    # so the cumulative weight is a GLOBAL distributed cumsum converted
    # to per-group cw by subtracting the group's exclusive weight
    # offset (3-row window over the per-group totals — the a9c/
    # prefixsum offsets pattern). Collapse-first (round 9): the median
    # condition min(price WHERE cw*2 >= w) is run-boundary-invariant —
    # whichever row inside a tied-price run first crosses the
    # threshold, the PICKED price is the run's price, so per-(flag,
    # price) weight sums are exact and the cumsum input shrinks from
    # |rows| to |groups × distinct prices| (multiplicity-independent).
    # All arithmetic stays exact DECIMAL, so cw and the cw*2 >= w
    # comparison are bit-identical to the windowed plan's.
    collapsed = (
        T("lineitem")
        .select(
            "l_returnflag",
            "l_extendedprice",
            F.col("l_quantity").cast("decimal(18,2)").alias("__q"),
        )
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(F.sum("__q").alias("__cq"))
    )
    cum = distributed_cumsum(
        collapsed, ["l_returnflag", "l_extendedprice"], "__cq", "__gcw"
    )
    # group totals read the checkpointed cumsum frame — no second scan
    totals = cum.groupBy("l_returnflag").agg(F.sum("__cq").alias("__w"))
    w_off = (
        Window.partitionBy(F.col("__w") * F.lit(0))
        .orderBy("l_returnflag")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    totals = totals.select(
        "l_returnflag",
        "__w",
        F.coalesce(F.sum("__w").over(w_off), F.lit(0).cast("decimal(28,2)")).alias("__off"),
    )
    joined = cum.join(F.broadcast(totals), "l_returnflag").withColumn(
        "cw", F.col("__gcw") - F.col("__off")
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.max("__w").cast("double").alias("total_weight"),
            F.min(
                F.when(F.col("cw") * 2 >= F.col("__w"), F.col("l_extendedprice"))
            ).alias("weighted_median"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# M11 — market-basket pair lift (new round 4): support / confidence /
# lift for part pairs that co-occur in the same order — the association
# -rule primitive behind "bought together" recommenders. Shape (round
# 13): pair generation rides the G1 guarded Arrow pair kernel per order
# basket (bounded by order line count, never corpus-quadratic), per-part
# supports are one keyed distinct count, and every statistic is a
# closed-form double over exact BIGINT counts. Pairs below min-support
# are cut BEFORE the support joins.
# --------------------------------------------------------------------------
_M11_MIN_PAIRS = 3


@register(
    "m11_basket_lift",
    oracle=f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM lineitem),
    sup AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s FROM li GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, CAST(COUNT(*) AS BIGINT) AS both
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_M11_MIN_PAIRS})
    SELECT p.p1, p.p2, p.both, s1.s AS s1, s2.s AS s2,
           round(CAST(p.both AS DOUBLE) / n.n_orders, 6) AS support,
           round(CAST(p.both AS DOUBLE) / s1.s, 6) AS confidence,
           round(CAST(p.both AS DOUBLE) * n.n_orders
                 / (CAST(s1.s AS DOUBLE) * s2.s), 6) AS lift
    FROM pairs p
    JOIN sup s1 ON s1.l_partkey = p.p1
    JOIN sup s2 ON s2.l_partkey = p.p2
    CROSS JOIN n
    ORDER BY lift DESC, p.p1, p.p2
    LIMIT 25
    """,
)
def m11_basket_lift(spark, sf_dir):
    # Round 13 (two-round rule fired: sf1 ratios 2.92x judge / 3.27x /
    # 2.53x on the old self-join shape): the executed sf1 plan showed
    # AQE BROADCASTING the ~6M-row distinct (order, part) side of the
    # basket self-join — a driver-sized hash-relation build per run and
    # the never-broadcast-a-corpus-side 100 TB hazard. m11 is the g1
    # co-occurrence shape with bucket=order, item=part, so it now rides
    # the same guarded Arrow pair kernel: collect_set per order folds
    # the dedup into the ONE orderkey shuffle, the kernel expands each
    # basket's pairs in numpy (baskets are <=7 items; the 50M-pair
    # bucket bound + 4M flush budget still guard pathological data) and
    # pre-aggregates packed-key partials before the exchange — no join
    # builds pairs at all. Supports/census are per-part and global
    # countDistinct over the raw scan (partial-distinct expansion, one
    # pass). Measured interleaved same-session (scripts/m11_shape_ab_out.json,
    # identity-gated): sf1 5.40 s -> 3.40 s (2.62x -> 1.65x); the
    # shuffle_hash-pinned self-join arm measured 1.71x — the kernel wins
    # AND removes the hazard class structurally.
    from kompactor_spark.queries import graph as G

    T = loader(sf_dir, spark)
    li = T("lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("us"))
    # NOT adopted (round 13 second pass, measured): a size-grouped
    # vectorized mapInArrow sibling of the pair kernel was A/B'd here on
    # the theory that 15M ≤7-item baskets make the per-bucket Python
    # loop the cost — it LOST at sf10 in all 3 interleaved rounds
    # (median 19.1 s vs this kernel's 16.6 s; sf1 2.52 vs 2.66 s, a
    # wash). The boundary lesson from the ANN rows does not transfer
    # when per-row payloads are tiny and the expansion itself is the
    # work. Record: scripts/m11_shape_ab_sf10b_out.json. Round 15
    # re-confirmed with a pure-JVM transform()/explode expansion arm —
    # also a loser (scripts/r15_m11_ab2_out.json C: 4.36 s vs A 4.19 s
    # sf1; 32.4 vs 25.7 s sf10): the expansion itself is the work.
    pairs = G._pair_count_kernel(baskets.select("us"), _M11_MIN_PAIRS).select(
        F.col("u").alias("p1"), F.col("v").alias("p2"), F.col("w").alias("both")
    )
    # Round 15 (the m11 1.8x trigger FIRED in the clean window —
    # scripts/r15_cleanwindow_out.json 1.93x/1.91x): supports and the
    # global order count now DERIVE FROM THE BASKETS FRAME instead of
    # re-scanning lineitem — explode(us) counts exactly
    # countDistinct(l_orderkey) per part (us is the order's DISTINCT
    # part set), and counting basket rows IS countDistinct(l_orderkey).
    # All three consumers keep byte-identical partial collect_set
    # aggregates over ONE Exchange(l_orderkey) (the size(us) >= 0
    # tautological filter is the surprisal tf>=1 lesson: prune nothing,
    # so AQE stage reuse fires) — lineitem is scanned ONCE instead of
    # three times. sf1 wash (floor-bound row; A 4.19 s vs B 4.23 s
    # inside a 2.7-4.3 s DuckDB drift band), sf10 paired window 35.8 ->
    # 29.1 s median (scripts/r15_m11_ab2_out.json, r15_m11_sf10 logs);
    # at 100 TB this is one pass over the fact table instead of three.
    sup = (
        baskets.select(F.explode("us").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("s"))
    )
    n = baskets.where(F.size("us") >= 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    s1 = sup.select(F.col("l_partkey").alias("p1"), F.col("s").alias("s1"))
    s2 = sup.select(F.col("l_partkey").alias("p2"), F.col("s").alias("s2"))
    both_d = F.col("both").cast("double")
    return (
        pairs.join(s1, "p1")
        .join(s2, "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "both",
            "s1",
            "s2",
            F.round(both_d / F.col("n_orders"), 6).alias("support"),
            F.round(both_d / F.col("s1"), 6).alias("confidence"),
            F.round(
                both_d * F.col("n_orders") / (F.col("s1").cast("double") * F.col("s2")), 6
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "p1", "p2")
        .limit(25)
    )


# --------------------------------------------------------------------------
# A26 — Benford first-digit audit (new round 4): the observed
# first-significant-digit distribution of order values against
# Benford's law expectation log10(1+1/d) — the classic fraud /
# fabricated-data screen for financial columns. Digit extraction is
# integer/string arithmetic (no float log in the grouping key),
# observed counts are exact BIGINTs, and expectation + deviation are
# closed-form doubles per digit row — bit-deterministic cross-engine.
# --------------------------------------------------------------------------
@register(
    "a26_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1.0),
    c AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
    t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM c)
    SELECT c.digit, c.n,
           round(c.n / t.total, 6) AS observed,
           round(log10(1.0 + 1.0 / c.digit), 6) AS expected,
           round(c.n / t.total - log10(1.0 + 1.0 / c.digit), 6) + 0.0 AS deviation
    FROM c, t
    ORDER BY c.digit
    """,
)
def a26_benford(spark, sf_dir):
    T = loader(sf_dir, spark)
    digit = F.substring(dec("o_totalprice").cast("string"), 1, 1).cast("bigint")
    c = (
        T("orders")
        .where(F.col("o_totalprice") >= 1.0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    t = c.agg(F.sum("n").cast("double").alias("total"))
    expected = F.log10(1.0 + 1.0 / F.col("digit"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("observed"),
            F.round(expected, 6).alias("expected"),
            (F.round(F.col("n") / F.col("total") - expected, 6) + F.lit(0.0)).alias("deviation"),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# J19 — nearest-value (1-D Voronoi) join (new round 4): match every
# lineitem's unit price to the CLOSEST part retail price — the numeric
# entity-resolution / rate-card-snapping primitive when there is no
# equi-key at all. Scale shape: 1-D nearest neighbor against a
# dimension is interval membership in the dim's Voronoi cells
# (midpoints between consecutive sorted prices) — the cells come from
# a DIM-sized window (a few thousand rows; the global sort there is
# deliberate and bounded), then the fact side does a broadcast band
# join (the j16 plan) — the fact never shuffles and never sees a
# quadratic stage. Exact-midpoint ties go to the upper cell (half-open
# [lo, hi)), identical in both engines.
# --------------------------------------------------------------------------
@register(
    "j19_nearest_value_join",
    oracle="""
    WITH prices AS (SELECT DISTINCT p_retailprice AS p FROM part),
    cells AS (
      SELECT p,
             COALESCE((lag(p) OVER (ORDER BY p) + p) / 2, -1e308) AS lo,
             COALESCE((p + lead(p) OVER (ORDER BY p)) / 2, 1e308) AS hi
      FROM prices),
    f AS (
      SELECT l_orderkey, l_linenumber,
             l_extendedprice / l_quantity AS up
      FROM lineitem)
    SELECT f.l_orderkey, f.l_linenumber,
           f.up AS unit_price,
           c.p AS nearest_price,
           abs(f.up - c.p) AS diff
    FROM f JOIN cells c ON f.up >= c.lo AND f.up < c.hi
    ORDER BY f.l_orderkey, f.l_linenumber
    """,
)
def j19_nearest_value_join(spark, sf_dir):
    T = loader(sf_dir, spark)
    prices = T("part").select(F.col("p_retailprice").alias("p")).distinct()
    # dim-sized global window: bounded by the part dimension, never the fact
    wp = Window.orderBy("p")
    cells = prices.select(
        "p",
        F.coalesce((F.lag("p").over(wp) + F.col("p")) / 2, F.lit(-1e308)).alias("lo"),
        F.coalesce((F.col("p") + F.lead("p").over(wp)) / 2, F.lit(1e308)).alias("hi"),
    )
    f = (
        T("lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("up"),
        )
        # Round 14 (optimization): global order is established by
        # range-partitioning the FACT below the join + one LOCAL sort of
        # the joined output above it, instead of a final orderBy. A final
        # orderBy plans as Exchange(rangepartitioning) whose bounds
        # sampling pass RE-EXECUTES everything below it — here the whole
        # BroadcastNestedLoopJoin ran twice per job (guide §7.2; probe
        # and A/B in scripts/r14_sortexec_ab_out.json: sf1 sink 12.9 s -> 4.3 s,
        # row-order-identical output). Sound because the Voronoi cells
        # partition the real line: each fact row emits EXACTLY one output
        # row, so range partitioning by (l_orderkey, l_linenumber) below
        # the join is the output's own partitioning, and the local sort
        # above the join makes every partition — hence the whole result —
        # ordered. The local sort must sit ABOVE the join: EliminateSorts
        # removes a bare Sort under a Join.
        .repartitionByRange("l_orderkey", "l_linenumber")
    )
    return (
        # cells = DISTINCT p_retailprice, bounded by the price domain
        # (~2M values at saturation), not by SF, so the hint always
        # holds; without it this non-equi join can plan a
        # CartesianProduct, which repartitions the fact side and breaks
        # the sort-below-join order.
        f.join(F.broadcast(cells), (F.col("up") >= F.col("lo")) & (F.col("up") < F.col("hi")))
        .select(
            "l_orderkey",
            "l_linenumber",
            # RAW doubles, deliberately un-rounded: a single IEEE
            # quotient / subtraction is bit-identical cross-engine (no
            # aggregation order involved), while ANY 6-dp quantization
            # here diverges — power-of-two quantities make quotients
            # land EXACTLY on .5×10⁻⁶ ties, where Spark rounds half-up
            # and DuckDB half-even (found live: 30448.81/32)
            F.col("up").alias("unit_price"),
            F.col("p").alias("nearest_price"),
            F.abs(F.col("up") - F.col("p")).alias("diff"),
        )
        .sortWithinPartitions("l_orderkey", "l_linenumber")
    )


# --------------------------------------------------------------------------
# P6 — multi-measure pivot (new round 4): pivot on order status with
# TWO measures per cell (count + exact DECIMAL revenue) — the wide
# scorecard shape P3's count-only pivot doesn't cover. Spark's
# .pivot().agg(a, b) emits suffixed columns; both engines compute the
# cells as conditional aggregates, one shuffle.
# --------------------------------------------------------------------------
@register(
    "p6_multi_measure_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS f_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'F')
                AS DOUBLE) AS f_rev,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS o_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'O')
                AS DOUBLE) AS o_rev,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS p_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'P')
                AS DOUBLE) AS p_rev
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def p6_multi_measure_pivot(spark, sf_dir):
    T = loader(sf_dir, spark)
    wide = (
        T("orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).alias("rev"),
        )
    )
    cols = [F.col("o_orderpriority")]
    for s_ in ("F", "O", "P"):
        cols.append(F.coalesce(F.col(f"{s_}_n"), F.lit(0)).cast("bigint").alias(f"{s_.lower()}_n"))
        cols.append(F.col(f"{s_}_rev").cast("double").alias(f"{s_.lower()}_rev"))
    return wide.select(*cols).orderBy("o_orderpriority")
