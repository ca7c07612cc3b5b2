"""Relational surface: sources, projection/filter, joins, aggregation,
set ops (SURVEY §2.B rows S1-S4, P1-P2, J1-J9, A1-A7, U1-U3).

Spark side is pure DataFrame API — Catalyst handles pushdown, pruning,
join selection; broadcast hints are explicit where a dimension table is
known-small (J6). Oracle SQL follows the determinism discipline.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kompactor_spark import fixedpoint as fx
from kompactor_spark.fixedpoint import dec
from kompactor_spark.operators.asof import asof_join_split
from kompactor_spark.queries import register
from kompactor_spark.session import dim_broadcast
from kompactor_spark.tables import loader


# --------------------------------------------------------------------------
# S1 — multi-file Parquet scan with projection + filter pushdown
# (reference R1, kompactor.ts:107 read_parquet([...]))
# --------------------------------------------------------------------------
@register(
    "s1_parquet_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_quantity > 45.0
    ORDER BY l_orderkey, l_linenumber
    """,
)
def s1_parquet_scan(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("lineitem")
        .where(F.col("l_quantity") > 45.0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    )


# --------------------------------------------------------------------------
# P1 — projection: rename + computed columns (decimal-exact revenue)
# --------------------------------------------------------------------------
@register(
    "p1_projection",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                AS DOUBLE) AS revenue,
           l_returnflag AS flag
    FROM lineitem
    WHERE l_orderkey <= 1000
    ORDER BY l_orderkey, l_linenumber
    """,
)
def p1_projection(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("lineitem")
        .where(F.col("l_orderkey") <= 1000)
        .select(
            "l_orderkey",
            "l_linenumber",
            (dec("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.col("l_returnflag").alias("flag"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# --------------------------------------------------------------------------
# P2 — filter predicates: IN / BETWEEN / LIKE / IS NULL / boolean combos
# --------------------------------------------------------------------------
@register(
    "p2_filter_predicates",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus IN ('F','O')
      AND o_totalprice BETWEEN 50000.0 AND 200000.0
      AND o_orderpriority LIKE '%URGENT%'
      AND NULLIF(o_orderstatus, 'P') IS NOT NULL
    ORDER BY o_orderkey
    """,
)
def p2_filter_predicates(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("orders")
        .where(
            F.col("o_orderstatus").isin("F", "O")
            & F.col("o_totalprice").between(50000.0, 200000.0)
            & F.col("o_orderpriority").like("%URGENT%")
            & F.nullif(F.col("o_orderstatus"), F.lit("P")).isNotNull()
        )
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# J1 — inner equi-join (shuffle hash/sort-merge chosen by Catalyst)
# --------------------------------------------------------------------------
@register(
    "j1_inner_join",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE o.o_totalprice > 250000.0
    ORDER BY c.c_custkey, o.o_orderkey
    """,
)
def j1_inner_join(spark, sf_dir):
    T = loader(sf_dir, spark)
    c, o = T("customer"), T("orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "inner")
        .where(F.col("o_totalprice") > 250000.0)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .orderBy("c_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
# J2 — left outer join (customers with zero orders kept, NULL-filled)
# --------------------------------------------------------------------------
@register(
    "j2_left_outer_join",
    oracle="""
    SELECT c.c_custkey,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    ORDER BY c.c_custkey
    """,
)
def j2_left_outer_join(spark, sf_dir):
    T = loader(sf_dir, spark)
    c, o = T("customer"), T("orders")
    # aggregate pushed BELOW the join (legal because the join key IS the
    # group key and customer keys are unique): the fact table collapses
    # to one row per custkey before the outer join, so the join never
    # sees fact-table row counts — and the money sum rides the limb-split
    # long fast path instead of a BigDecimal fold (fixedpoint.py; the
    # joined-then-aggregated decimal plan measured 20 s at sf10, this
    # shape ~2 s)
    hi, lo = fx.limb_split(fx.to_units("o_totalprice", 2))
    per_cust = (
        o.select("o_custkey", hi.alias("tp_hi"), lo.alias("tp_lo"))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            fx.exact_sum("tp_hi", "tp_lo", 2).alias("__t"),
        )
    )
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("n_orders"),
            F.coalesce(F.col("__t"), F.lit(0)).cast("double").alias("total_spend"),
        )
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# J2b — full outer join over disjoint-ish keysets
# --------------------------------------------------------------------------
@register(
    "j2_full_outer_join",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust
                FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_supp
                FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cn.nk, sn.nk) AS nk,
           COALESCE(cn.n_cust, 0) AS n_cust,
           COALESCE(sn.n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    ORDER BY nk
    """,
)
def j2_full_outer_join(spark, sf_dir):
    T = loader(sf_dir, spark)
    cn = (
        T("customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").cast("bigint").alias("n_cust"))
    )
    sn = (
        T("supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").cast("bigint").alias("n_supp"))
    )
    return (
        cn.join(sn, "nk", "full")
        .select(
            F.col("nk"),
            F.coalesce("n_cust", F.lit(0).cast("bigint")).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0).cast("bigint")).alias("n_supp"),
        )
        .orderBy("nk")
    )


# --------------------------------------------------------------------------
# J3 — left semi join (EXISTS)
# --------------------------------------------------------------------------
@register(
    "j3_semi_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    ORDER BY c_custkey
    """,
)
def j3_semi_join(spark, sf_dir):
    T = loader(sf_dir, spark)
    c = T("customer")
    o = T("orders").where(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# J4 — left anti join (NOT EXISTS)
# --------------------------------------------------------------------------
@register(
    "j4_anti_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def j4_anti_join(spark, sf_dir):
    T = loader(sf_dir, spark)
    c, o = T("customer"), T("orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# J5 — cross join (small dims only — never on fact tables at scale)
# --------------------------------------------------------------------------
@register(
    "j5_cross_join",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    ORDER BY r.r_name, n.n_name
    """,
)
def j5_cross_join(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("region")
        .crossJoin(T("nation"))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")
    )


# --------------------------------------------------------------------------
# J6 — broadcast equi-join: dims broadcast, fact streams (plan asserted in
# tests: BroadcastHashJoin, no shuffle of the fact side)
# --------------------------------------------------------------------------
@register(
    "j6_broadcast_join",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def j6_broadcast_join(spark, sf_dir):
    T = loader(sf_dir, spark)
    c, n = T("customer"), T("nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_cust"),
            F.sum(dec("c_acctbal")).cast("double").alias("total_bal"),
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# J7 — theta / range join (non-equi): nation self-join within region
# --------------------------------------------------------------------------
@register(
    "j7_theta_join",
    oracle="""
    SELECT n1.n_name AS name_a, n2.n_name AS name_b, n1.n_regionkey AS rk
    FROM nation n1 JOIN nation n2
      ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
    ORDER BY rk, name_a, name_b
    """,
)
def j7_theta_join(spark, sf_dir):
    T = loader(sf_dir, spark)
    n1 = T("nation").alias("n1")
    n2 = T("nation").alias("n2")
    return (
        n1.join(
            n2,
            (F.col("n1.n_regionkey") == F.col("n2.n_regionkey"))
            & (F.col("n1.n_nationkey") < F.col("n2.n_nationkey")),
        )
        .select(
            F.col("n1.n_name").alias("name_a"),
            F.col("n2.n_name").alias("name_b"),
            F.col("n1.n_regionkey").alias("rk"),
        )
        .orderBy("rk", "name_a", "name_b")
    )


# --------------------------------------------------------------------------
# J8 — as-of join: for each error event, the latest prior-or-equal signup
# of the same user. Spark-first: union + window (single shuffle by user),
# NOT a range join (quadratic blow-up at scale) — see operators/asof.py.
# Both sides split ONE events scan, so the fused single-scan variant
# applies (asof_join_split; the generic two-frame asof_join would scan
# events twice).
# --------------------------------------------------------------------------
@register(
    "j8_asof_join",
    oracle="""
    SELECT e.event_id, e.user_id, epoch_ns(e.ts) AS err_ts, epoch_ns(s.ts) AS signup_ts
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON e.user_id = s.user_id AND e.ts >= s.ts
    ORDER BY e.event_id
    """,
)
def j8_asof_join(spark, sf_dir):
    T = loader(sf_dir, spark)
    # DuckDB truncates Parquet ns-timestamps to µs at read, so the MATCH
    # predicate itself must run on µs-floored values (flooring only the
    # output would mis-match rows whose order flips inside one µs under
    # a TIMESTAMP(NANOS) encoding round) — SURVEY §5.2.
    ev = T("events").withColumn("ts_us", F.col("ts") - F.col("ts") % 1000)  # int64-exact µs floor
    return (
        asof_join_split(
            ev,
            on="user_id",
            ts="ts_us",
            left_when=F.col("event_type") == "error",
            right_when=F.col("event_type") == "signup",
            left_cols=["event_id"],
            left_ts_name="err_ts",
            right_ts_name="signup_ts",
        )
        .select("event_id", "user_id", "err_ts", "signup_ts")
        # Round 14 (optimization): materialization barrier before the
        # presentation sort — the orderBy's range-bounds sampling pass
        # re-executes its child, which here re-ran the whole union+sort+
        # running-last window (the 0.63 s component of the sf10
        # decomposition) a second time per job. One hash exchange of the
        # skinny result rows makes the sampling re-read a shuffle
        # instead (scripts/r14_sortexec_ab_out.json + sf10 reruns:
        # sf1 fetch 0.81 s -> 0.69 s; sf10 fetch min 4.34 -> 2.89 in a
        # noisy window). The §3.3 sink reclassification stays un-adopted:
        # its pre-committed trigger (>=1.8x two consecutive rounds) has
        # not fired and the sink A/B showed no ratio gain.
        .repartition("event_id")
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# J9 — multi-way star join + aggregation (the flagship query).
# region/nation broadcast; customer⋈orders⋈lineitem shuffle on keys.
# --------------------------------------------------------------------------
@register(
    "j9_star_join",
    oracle="""
    SELECT r.r_name, n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
                AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY r.r_name, n.n_name
    ORDER BY r.r_name, n.n_name
    """,
)
def j9_star_join(spark, sf_dir):
    T = loader(sf_dir, spark)
    r, n, c, o, l = T("region"), T("nation"), T("customer"), T("orders"), T("lineitem")
    # Exact revenue as pre-split integer limbs (fixedpoint.py): the scan
    # projects lineitem down to (l_orderkey, hi, lo) — 24 bytes/row into
    # the shuffle — and the post-join aggregate is two long SUMs on the
    # codegen fast path instead of a BigDecimal fold (r3's decimal sum
    # was ~half of j9's runtime at sf1). Recombined exactly per group.
    dp4 = fx.to_units("l_extendedprice", 2) * (F.lit(100) - fx.to_units("l_discount", 2))
    hi, lo = fx.limb_split(dp4)
    l2 = l.select("l_orderkey", hi.alias("rev_hi"), lo.alias("rev_lo"))
    o2 = o.select("o_orderkey", "o_custkey")
    return (
        # fact⋈fact (lineitem⋈orders) shuffles hash-partitioned on the
        # key — the 100 TB discipline (broadcast only true dims). Also
        # measured faster than broadcasting orders at sf1: the driver-side
        # broadcast build serializes while SHUFFLE_HASH builds per-task
        # maps in parallel and stays AQE-skew-splittable (BENCH_SF1).
        # Pre-aggregating by o_custkey below the dim joins was measured
        # too (1.4 s vs 1.0 s at sf1) — the extra shuffle costs more than
        # the dim-probe rows it saves; revisit if dims stop broadcasting.
        l2.join(o2.hint("SHUFFLE_HASH"), l2.l_orderkey == o2.o_orderkey)
        .join(dim_broadcast(c.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            fx.exact_sum("rev_hi", "rev_lo", 4).cast("double").alias("revenue"),
        )
        .orderBy("r_name", "n_name")
    )


# --------------------------------------------------------------------------
# A1 — hash aggregate, TPC-H Q1 shape (partial+final agg is automatic;
# plan asserted in tests: HashAggregate x2, decimal-exact sums)
# --------------------------------------------------------------------------
@register(
    "a1_groupby_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                    * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2))))
                AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def a1_groupby_q1(spark, sf_dir):
    # Exact-decimal semantics on the long fast path: each money column
    # becomes exact integer units (e2 for the raw columns, e4/e6 for the
    # discount/tax products), limb-split per row, SUMmed as plain longs
    # inside one whole-stage-codegen pass, and recombined to the exact
    # DECIMAL once per group (kompactor_spark/fixedpoint.py has the
    # overflow bounds: safe past 1e12 rows/group).  Replaces the
    # DECIMAL(28,2)-buffer sums that aggregated through BigDecimal —
    # measured 2.07 s -> 0.06 s at sf1, bit-identical to the oracle.
    T = loader(sf_dir, spark)
    qty = fx.to_units("l_quantity", 2)
    price = fx.to_units("l_extendedprice", 2)
    disc = fx.to_units("l_discount", 2)
    tax = fx.to_units("l_tax", 2)
    dp4 = price * (F.lit(100) - disc)  # e4 units of price*(1-disc)
    ch6 = dp4 * (F.lit(100) + tax)  # e6 units of price*(1-disc)*(1+tax)
    limbs = {"qty": (qty, 2), "price": (price, 2), "disc": (disc, 2), "dp": (dp4, 4), "ch": (ch6, 6)}
    proj = []
    for name, (units, _) in limbs.items():
        hi, lo = fx.limb_split(units)
        proj += [hi.alias(f"{name}_hi"), lo.alias(f"{name}_lo")]
    li = (
        T("lineitem")
        .where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .select("l_returnflag", "l_linestatus", *proj)
    )
    cnt = F.count("*")

    def s(name):
        return fx.exact_sum(f"{name}_hi", f"{name}_lo", limbs[name][1]).cast("double")

    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            s("qty").alias("sum_qty"),
            s("price").alias("sum_base_price"),
            s("dp").alias("sum_disc_price"),
            s("ch").alias("sum_charge"),
            (s("qty") / cnt.cast("double")).alias("avg_qty"),
            (s("price") / cnt.cast("double")).alias("avg_price"),
            (s("disc") / cnt.cast("double")).alias("avg_disc"),
            cnt.cast("bigint").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# A2 — exact COUNT(DISTINCT), multi-distinct in one aggregate
# --------------------------------------------------------------------------
@register(
    "a2_count_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supps,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def a2_count_distinct(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").cast("bigint").alias("nd_parts"),
            F.countDistinct("l_suppkey").cast("bigint").alias("nd_supps"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# A3 — approx_count_distinct (HLL). Sketches differ across engines, so no
# hash oracle (SURVEY A3: T-check); the tolerance test lives in tests/.
# --------------------------------------------------------------------------
@register(
    "a3_approx_count_distinct",
    check=(
        "T-class BY DESIGN — permanently `no_oracle` in every correctness "
        "artifact: Spark's HLL++ sketch and DuckDB's estimator can never "
        "hash-match; the binding check is tests/test_tolerance.py "
        "(approx within ±5% of the exact count, exact twin in-row)"
    ),
)
def a3_approx_count_distinct(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("lineitem")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).cast("bigint").alias("approx_nd_parts"),
            F.countDistinct("l_partkey").cast("bigint").alias("exact_nd_parts"),
        )
    )


# --------------------------------------------------------------------------
# A4 — ROLLUP with grouping markers (per-column GROUPING() flags — bit
# layouts of grouping_id differ across engines, individual flags don't)
# --------------------------------------------------------------------------
@register(
    "a4_rollup",
    oracle="""
    SELECT n.n_name, o.o_orderstatus,
           CAST(GROUPING(n.n_name) AS INTEGER) AS g_name,
           CAST(GROUPING(o.o_orderstatus) AS INTEGER) AS g_status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n.n_name, o.o_orderstatus)
    ORDER BY g_name, g_status, n.n_name NULLS FIRST, o.o_orderstatus NULLS FIRST
    """,
)
def a4_rollup(spark, sf_dir):
    T = loader(sf_dir, spark)
    o, c, n = T("orders"), T("customer"), T("nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup("n_name", "o_orderstatus")
        .agg(
            F.grouping("n_name").cast("int").alias("g_name"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
        .orderBy(
            "g_name",
            "g_status",
            F.col("n_name").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# A4b — CUBE
# --------------------------------------------------------------------------
@register(
    "a4_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def a4_cube(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
        .orderBy(
            "g_flag",
            "g_status",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# A5 — HAVING (post-aggregation filter)
# --------------------------------------------------------------------------
@register(
    "a5_having",
    oracle="""
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    ORDER BY o_custkey
    """,
)
def a5_having(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
        .where(F.col("n_orders") >= 12)
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------
# A7 — ordered list aggregation
# --------------------------------------------------------------------------
@register(
    "a7_list_agg",
    oracle="""
    SELECT l_orderkey,
           array_to_string(
             list_transform(list_sort(list(l_quantity)),
                            x -> CAST(CAST(x AS DECIMAL(12,2)) AS VARCHAR)),
             ',') AS quantities,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_orderkey <= 500
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    """,
)
def a7_list_agg(spark, sf_dir):
    # Array results are serialized to a canonical CSV string: the driver's
    # canonicalizer sorts result columns through pandas and cannot hash
    # ndarray cells (round-1 driver-ERR). Same decimal formatting both sides.
    T = loader(sf_dir, spark)
    return (
        T("lineitem")
        .where(F.col("l_orderkey") <= 500)
        .groupBy("l_orderkey")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("l_quantity")),
                    lambda x: x.cast("decimal(12,2)").cast("string"),
                ),
            ).alias("quantities"),
            F.count("*").cast("bigint").alias("n_items"),
        )
        .orderBy("l_orderkey")
    )


# --------------------------------------------------------------------------
# U1/U2/U3 — set operations
# --------------------------------------------------------------------------
@register(
    "u1_union_all",
    oracle="""
    SELECT nk, kind FROM (
      SELECT c_nationkey AS nk, 'cust' AS kind FROM customer
      UNION ALL
      SELECT s_nationkey AS nk, 'supp' AS kind FROM supplier
    ) ORDER BY nk, kind
    """,
)
def u1_union_all(spark, sf_dir):
    T = loader(sf_dir, spark)
    c = T("customer").select(F.col("c_nationkey").alias("nk"), F.lit("cust").alias("kind"))
    s = T("supplier").select(F.col("s_nationkey").alias("nk"), F.lit("supp").alias("kind"))
    return c.unionAll(s).orderBy("nk", "kind")


@register(
    "u2_union_distinct",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    UNION
    SELECT s_nationkey AS nk FROM supplier
    ORDER BY nk
    """,
)
def u2_union_distinct(spark, sf_dir):
    T = loader(sf_dir, spark)
    c = T("customer").select(F.col("c_nationkey").alias("nk"))
    s = T("supplier").select(F.col("s_nationkey").alias("nk"))
    return c.union(s).distinct().orderBy("nk")


@register(
    "u3_intersect",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier
    ORDER BY nk
    """,
)
def u3_intersect(spark, sf_dir):
    T = loader(sf_dir, spark)
    c = T("customer").select(F.col("c_nationkey").alias("nk"))
    s = T("supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s).orderBy("nk")


@register(
    "u3_except",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    EXCEPT
    SELECT s_nationkey AS nk FROM supplier
    ORDER BY nk
    """,
)
def u3_except(spark, sf_dir):
    T = loader(sf_dir, spark)
    c = T("customer").select(F.col("c_nationkey").alias("nk"))
    s = T("supplier").select(F.col("s_nationkey").alias("nk"))
    return c.subtract(s).orderBy("nk")  # subtract == EXCEPT (distinct semantics)


# --------------------------------------------------------------------------
# J8c — forward as-of join (new round 4): for each error event, the
# user's NEXT purchase at-or-after it — time-to-recovery / did-the-user
# -come-back analysis. Same single-shuffle union+window mechanism as J8
# (operators/asof.py::asof_join_split with forward=True), mirrored to a
# first-over-following frame; oracle is DuckDB's native forward ASOF
# (e.ts <= p.ts).
# --------------------------------------------------------------------------
@register(
    "j8c_asof_forward",
    oracle="""
    SELECT e.event_id, e.user_id, epoch_ns(e.ts) AS err_ts, epoch_ns(p.ts) AS next_purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts <= p.ts
    ORDER BY e.event_id
    """,
)
def j8c_asof_forward(spark, sf_dir):
    from kompactor_spark.operators.asof import asof_join_split

    T = loader(sf_dir, spark)
    ev = T("events").withColumn("ts_us", F.col("ts") - F.col("ts") % 1000)  # µs floor, J8 policy
    return (
        asof_join_split(
            ev,
            on="user_id",
            ts="ts_us",
            left_when=F.col("event_type") == "error",
            right_when=F.col("event_type") == "purchase",
            left_cols=["event_id"],
            left_ts_name="err_ts",
            right_ts_name="next_purchase_ts",
            forward=True,
        )
        .select("event_id", "user_id", "err_ts", "next_purchase_ts")
        .orderBy("event_id")
    )
