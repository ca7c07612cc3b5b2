"""Plan-level assertions (SURVEY §2.B P-class checks: J6, A6, S1/S2,
O2) — the physical plan IS part of the contract. At 100 TB the
difference between a broadcast join and a shuffled one, or a pushed
filter and a post-scan one, is the difference between minutes and
hours; these tests pin the plan shape so a regression is caught at
sf0.001.
"""

from __future__ import annotations

import pytest

from kompactor_spark.queries import all_queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def Q(spark):
    return all_queries()


def plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    return df._jdf.queryExecution().explainString(mode)


def test_s1_pushdown_and_pruning(spark, Q):
    """Filter reaches the Parquet scan; scan reads ONLY the projected
    columns (SURVEY 'Push down and prune')."""
    p = plan(spark, Q["s1_parquet_scan"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in p
    assert "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_returnflag:string>" in p


def test_s2_partition_pruning(spark, Q):
    """Hive-layout scan prunes partitions at planning time."""
    p = plan(spark, Q["s2_partition_pruned_scan"](spark, SF))
    assert "PartitionFilters: [" in p and "event_type" in p.split("PartitionFilters:")[1][:200]


def test_j6_broadcast_join_no_fact_shuffle(spark, Q):
    """J6: dim is broadcast; the fact side is never hash-exchanged
    before the join."""
    p = plan(spark, Q["j6_broadcast_join"](spark, SF))
    assert "BroadcastHashJoin" in p
    join_part = p.split("BroadcastHashJoin")[1]
    assert "BroadcastExchange" in join_part
    # the only Exchanges are the broadcast + the post-agg/sort ones,
    # never a hashpartitioning of customer below the join
    pre_join = p.split("BroadcastHashJoin")[0]
    assert "Exchange hashpartitioning" not in pre_join or "HashAggregate" in pre_join


def test_j9_star_plan(spark, Q):
    """J9: the three dim joins broadcast; the fact⋈fact lineitem⋈orders
    join is a key-partitioned SHUFFLE_HASH (the 100 TB discipline —
    broadcast only true dims; measured faster than broadcasting orders
    at sf1, BENCH_SF1). Never a sort-merge: no sort needed to join."""
    p = plan(spark, Q["j9_star_join"](spark, SF))
    assert p.count("BroadcastHashJoin") == 3
    assert p.count("ShuffledHashJoin") == 1
    assert "SortMergeJoin" not in p
    # exact-limb revenue: the shuffle carries two longs, the aggregate
    # sums longs (fixedpoint.py), no decimal buffer anywhere in the plan
    assert "rev_hi" in p and "rev_lo" in p
    assert "sum(rev_hi" in p and "sum(rev_lo" in p


def test_a1_partial_final_agg(spark, Q):
    """A6: map-side partial aggregation before the exchange."""
    p = plan(spark, Q["a1_groupby_q1"](spark, SF))
    assert "partial_sum" in p and "partial_count" in p
    assert p.count("HashAggregate") >= 2
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # exact-limb aggregation stays on the long fast path: every money
    # measure aggregates as a (hi, lo) long pair, never a wide decimal
    # sum buffer (fixedpoint.py; the r3 BigDecimal path was ~95% of
    # a1's sf1 runtime)
    for limb in ("qty_hi", "qty_lo", "ch_hi", "ch_lo"):
        assert f"partial_sum({limb}" in p
    assert "sum(cast(" not in p  # no decimal-cast summands anywhere


def test_o2_take_ordered(spark, Q):
    """O2: ORDER BY + LIMIT compiles to TakeOrderedAndProject (no
    global sort of the full table)."""
    p = plan(spark, Q["o2_topk"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_w1_single_shuffle(spark, Q):
    """W1: one hash exchange for the window partitioning plus, since
    round 14, exactly one more — the hash barrier on the presentation
    key that stops the final orderBy's range sampling from running the
    5-function ranking window twice per job (measured sf1 0.40→0.36 s,
    scripts/r14_sortexec_ab2_out.json). The ranking itself still adds no
    extra shuffle of the data."""
    p = plan(spark, Q["w1_ranking"](spark, SF))
    assert p.count("Exchange hashpartitioning") == 2
    assert "hashpartitioning(c_custkey" in p
    assert "hashpartitioning(c_mktsegment" in p


def test_l3_no_python_udf_in_topk(spark, Q):
    """L3 cosine top-k stays JVM-side (no BatchEvalPython — a
    row-at-a-time Python UDF in the hot path would be 10-100x slower)."""
    p = plan(spark, Q["l3_cosine_topk"](spark, SF))
    assert "BatchEvalPython" not in p


def test_m11_pairs_from_kernel_no_corpus_broadcast(spark, Q):
    """m11 (round 13, two-round rule): basket pairs come from the
    guarded Arrow pair kernel (MapInPandas), never a self-join — the
    old shape's sf1 plan BROADCAST the ~6M-row distinct (order, part)
    side (AQE), a driver-sized hash build and the
    never-broadcast-a-corpus-side 100 TB hazard. The only broadcast
    allowed in the finalized plan is of model-sized frames: the 1-row
    order census and the post-HAVING pair/support joins (AQE converts
    those small sides). Round-10 history still pinned: no
    localCheckpoint (the 60M-row UnsafeRow copy OOM'd the 8g driver)."""
    df = Q["m11_basket_lift"](spark, SF)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert "MapInPandas" in p
    # the pair build must not join the corpus with itself
    kernel_input = p.split("MapInPandas")[-1]
    assert "Join" not in kernel_input  # below the kernel: scan+agg only
    import inspect

    from kompactor_spark.queries import relational_ext as R

    src = inspect.getsource(R.m11_basket_lift)
    assert ".localCheckpoint(" not in src
    assert ".distinct()" not in src  # dedup folded into collect_set


@pytest.mark.parametrize(
    "name", ["m11_basket_lift", "g1_cooccurrence_graph", "g2_degree_centrality"]
)
def test_graph_pair_kernel_pandas_boundary(spark, Q, name):
    """The graph pair-count kernel crosses the Python boundary through
    mapInPandas; mapInArrow measured a tie in round 15
    (scripts/r15_g1_boundary_ab_out.json). Guard: no row may silently
    switch the kernel's boundary."""
    p = Q[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in p, name
    assert "MapInArrow" not in p, name


def test_crossdoc_gram_build_shared_via_exchange_reuse(spark, Q):
    """l4_crossdoc (round 10): the expensive gram explode feeds both
    aggregates through ONE explicit gram-keyed exchange — the finalized
    adaptive plan must reuse it (gram build once, disk-backed shuffle
    files instead of a block-store checkpoint), and the 30Mx30M
    gram-keyed join back to docs must be gone (the only join left is
    the doc-keyed count join)."""
    df = Q["l4_crossdoc_ngram_share"](spark, SF)
    df.collect()
    # the adaptive plan string appends "== Initial Plan ==" copies of
    # every subtree — count only the FINAL plan section
    p = df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert "ReusedExchange" in p
    assert p.count("Generate explode") == 1


def test_batch_scoring_rows_use_arrow_kernel_no_expansion(spark, Q):
    """l3_batch_topk / l7_knn_classify (round 10; mapInArrow round 13):
    the batch scorer is the Arrow-batched kernel — never a row-at-a-time
    BatchEvalPython, and never the |corpus| x |Q| crossJoin expansion
    whose interpreted folds measured 25-28 s at sf10. Round 13 moved
    the kernel from MapInPandas to MapInArrow (the Arrow→pandas
    list-column conversion was ~60% of the row at sf10 — see
    scripts/ann_fuse_ab_out.json); the pin follows. The final window ranks
    only the kernel's pruned candidates, so no join of any kind feeds
    it."""
    for name in ("l3_batch_topk", "l7_knn_classify"):
        p = plan(spark, Q[name](spark, SF))
        assert "MapInArrow" in p, name
        assert "MapInPandas" not in p, name
        assert "BatchEvalPython" not in p, name
        assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, name


def test_tfidf_tf_shared_via_exchange_reuse_not_checkpointed(spark, Q):
    """l4_tfidf (round 11, ADVICE r10): the (doc, term) tf frame feeds
    both the dfreq aggregate and the score join through the identical
    Exchange(hashpartitioning(doc_id, term)) — the finalized adaptive
    plan must reuse it instead of a block-store localCheckpoint (the
    ~30M-row UnsafeRow copy class that OOM'd the 8g driver in m11),
    and the corpus must be tokenized exactly once."""
    df = Q["l4_tfidf_topterms"](spark, SF)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert "ReusedExchange" in p
    assert p.count("Generate explode") == 1
    import inspect

    from kompactor_spark.queries import llm_pipeline as L

    assert ".localCheckpoint(" not in inspect.getsource(L.l4_tfidf_topterms)


def test_surprisal_single_tokenize_via_exchange_reuse(spark, Q):
    """l4_surprisal (round 11): corpus term counts derive from the
    (doc, t) partial frame, so the finalized plan reuses ONE
    Exchange(doc_id, t) and tokenizes the corpus exactly once — the
    same defect class as tfidf's double tokenize."""
    df = Q["l4_surprisal"](spark, SF)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert "ReusedExchange" in p
    assert p.count("Generate explode") == 1


def test_z2_salted_join_stays_broadcast(spark, Q):
    """Salted dim join: dim exploded 8x is still broadcast; the fact
    side is never sort-merge shuffled."""
    p = plan(spark, Q["z2_salted_join"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_s7_bucketed_join_no_shuffle(spark, Q):
    """S7: both sides bucketed on the join key → sort-merge join with
    ZERO exchanges on either input (the only hash exchange in the whole
    plan is the post-join aggregate's)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan(spark, Q["s7_bucketed_join"](spark, SF))
        assert "SortMergeJoin" in p
        assert p.count("Exchange hashpartitioning") == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))


def test_m2_latest_per_key_single_shuffle(spark, Q):
    """M2 recency dedup: one hash exchange (the window's), nothing else."""
    p = plan(spark, Q["m2_latest_per_key"](spark, SF))
    assert p.count("Exchange hashpartitioning") == 1


def test_q3_pushes_filters_to_all_scans(spark, Q):
    """Q3: the segment and both date filters reach their Parquet scans."""
    p = plan(spark, Q["q3_shipping_priority"](spark, SF))
    assert "EqualTo(c_mktsegment,BUILDING)" in p
    assert "LessThan(o_orderdate" in p
    assert "GreaterThan(l_shipdate" in p


def test_l7_centroids_partial_agg(spark, Q):
    """L7: the rows×dims explode aggregates map-side before shuffling."""
    p = plan(spark, Q["l7_label_centroids"](spark, SF))
    assert "partial_avg" in p or "partial_sum" in p


def test_q6_full_predicate_pushdown(spark, Q):
    """Q6: every selective predicate (shipdate range, discount between,
    quantity bound) reaches the Parquet scan as a pushed filter."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    p = Q["q6_forecast_revenue"](spark, SF)._jdf.queryExecution().explainString(mode)
    pushed = p.split("PushedFilters:")[1].split("]")[0]
    for frag in ("l_shipdate", "GreaterThanOrEqual(l_discount,0.05)",
                 "LessThanOrEqual(l_discount,0.07)", "LessThan(l_quantity,24.0)"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"


def test_q19_common_conjunct_pushdown(spark, Q):
    """Q19 (OR-of-ANDs): the extractable common conjuncts — brand IN set,
    quantity/size outer bounds — are pushed to each scan even though the
    full disjunction must evaluate post-join."""
    p = plan(spark, Q["q19_discounted_revenue"](spark, SF))
    part_pushed = [seg.split("]")[0] for seg in p.split("PushedFilters:")[1:]]
    assert any("p_brand" in seg for seg in part_pushed), part_pushed
    assert any("l_quantity" in seg for seg in part_pushed), part_pushed


def test_q17_decorrelated_no_cartesian(spark, Q):
    """Q17: the correlated-subquery rewrite must stay a hash/broadcast
    join on partkey — no nested-loop re-execution per row."""
    p = plan(spark, Q["q17_small_qty_revenue"](spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_q21_decorrelation_stays_hash_joins(spark, Q):
    """Q21: EXISTS + NOT EXISTS are decorrelated into ONE per-order
    aggregate joined back on l_orderkey — never a per-row nested-loop
    re-scan of lineitem. At 100 TB the difference is one shuffle of
    lineitem vs O(rows) rescans."""
    p = plan(spark, Q["q21_waiting_suppliers"](spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # the order-correlated join keys stay l_orderkey/po_orderkey
    assert "po_orderkey" in p


def test_q16_blacklist_is_broadcast_anti_join(spark, Q):
    """Q16: the NOT IN supplier blacklist becomes a broadcast LeftAnti
    hash join — the lineitem fact is never shuffled to test membership."""
    p = plan(spark, Q["q16_supplier_part_counts"](spark, SF))
    assert "LeftAnti, BuildRight" in p, p


def test_q13_on_clause_filter_pushed_to_scan(spark, Q):
    """Q13: the outer-join ON-clause predicate on o_orderpriority is
    pushed down to the orders Parquet scan (scan-level row skipping),
    not evaluated post-join."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    p = Q["q13_customer_distribution"](spark, SF)._jdf.queryExecution().explainString(mode)
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in p.split("PushedFilters:")[1].split("]")[0] \
        or any("Not(EqualTo(o_orderpriority,1-URGENT))" in seg.split("]")[0]
               for seg in p.split("PushedFilters:")[1:])


def test_z3_shuffle_hash_join_hint(spark, Q):
    """Z3: the SHUFFLE_HASH hint compiles to ShuffledHashJoin — no sort
    of either side (vs SortMergeJoin's two), while still partitioning
    both sides by the key."""
    p = plan(spark, Q["z3_shuffle_hash_join"](spark, SF))
    assert "ShuffledHashJoin" in p, p


def test_j14_range_join_is_equi_not_nested_loop(spark, Q):
    """J14: the point-in-interval join compiles to an EQUI hash join on
    the time-bucket key with the range predicate as residual — never a
    BroadcastNestedLoopJoin/CartesianProduct. At 100 TB the equi form
    shuffles linearly and AQE can split skewed buckets; the nested-loop
    form is quadratic."""
    p = plan(spark, Q["j14_binned_interval_join"](spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "__range_bucket" in p and "HashJoin" in p


def test_z4_runtime_bloom_filter_join(spark):
    """Z4: Catalyst injects a runtime bloom filter built from the
    selective (filtered) dim side and applies bloom_filter_might_contain
    on the fact scan — rows that cannot join are dropped BEFORE the
    shuffle. Default thresholds (10 GB application side) target real
    clusters, so the test lowers them to demonstrate the rewrite at
    test scale; at 100 TB the defaults fire on their own."""
    from pyspark.sql import functions as F

    keep = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB"
        )
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        p = plan(spark, j)
        assert "bloom_filter_agg" in p, p
        assert "might_contain" in p, p
        # and the result is still correct under the rewrite
        rows = {r.o_orderpriority: r.n for r in j.collect()}
        li2 = spark.read.parquet(f"{SF}/lineitem.parquet")
        expected = (
            li2.join(
                spark.read.parquet(f"{SF}/orders.parquet"),
                li2.l_orderkey == F.col("o_orderkey"),
            )
            .where(F.col("o_orderpriority") == "1-URGENT")
            .count()
        )
        assert rows == {"1-URGENT": expected}
    finally:
        for k, v in keep.items():
            spark.conf.set(k, v)


def test_z6_aqe_skew_join_split(spark):
    """Z6: AQE splits a skewed shuffle partition at runtime — the
    executed SortMergeJoin is marked skew=true when one key carries
    ~95% of rows (thresholds scaled to test data; the production
    defaults express the same ratios). Counter-case: when the join is
    followed by an agg on the SAME key, Spark correctly declines to
    split (splitting would force a re-shuffle for the agg) — pinning
    that too, since it is why skew tuning must look at the WHOLE plan."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    keep = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(200000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("v"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(1000).select(F.col("id").alias("k"), F.lit("dim").alias("d"))

        split = left.join(right, "k").agg(F.sum("v").alias("s"))
        split.collect()  # AQE marks skew only in the EXECUTED plan
        p = split._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in p, p

        reuse = left.join(right, "k").groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        reuse.collect()
        p2 = reuse._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" not in p2, "split would have forced a re-shuffle"
    finally:
        for k, v in keep.items():
            spark.conf.set(k, v)


def test_x23_bucketed_sweep_not_serial_per_key(spark, Q):
    """X23 (round 13): the running sum is the bucketed two-level prefix
    sum — the HEAVY data (2|events| points) is partitioned by
    (series, time-bucket) so the sweep parallelizes at any key
    cardinality, and every window keyed on the bare series key runs
    over MODEL-SIZED frames only (keys x buckets offsets / bucket-local
    peak candidates). The old shape's single per-key window sorted the
    whole point set in one task per key (5 keys = 5-way parallelism at
    every scale; measured 12.4 s vs 5.2 s at sf10 —
    scripts/x23_shape_ab_sf10_out.json)."""
    df = Q["x23_max_concurrency"](spark, SF)
    p = plan(spark, df)
    # the heavy exchange keys on (k, _b): present, and the big
    # running-sum window spec orders WITHIN it
    assert "hashpartitioning(k#" in p and "_b#" in p, p
    # the full point set is never windowed over the bare key: every
    # windowspecdefinition mentioning only k sits above an aggregate
    # (offsets / bucket-candidates), which the sort order pins — the
    # running-sum spec must name both k and _b
    import re

    run_specs = [
        s for s in re.findall(r"windowspecdefinition\(([^)]*)\)", p) if "t#" in s
    ]
    assert run_specs and all("_b#" in s for s in run_specs), run_specs


def test_x26_no_window_broadcast_recentre(spark, Q):
    """X26 (round 13): the per-series min recentre is a #series-row
    aggregate BROADCAST back — not min() OVER (PARTITION BY
    event_type), which shuffled the full event set into #series window
    tasks (§7c). The plan must contain zero window operators and a
    broadcast join."""
    p = plan(spark, Q["x26_trend_slope"](spark, SF))
    assert "windowspecdefinition" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_x27_telescoping_coverage_single_pass(spark, Q):
    """X27 (round 13): coverage is the telescoping sweep — island ids
    are NEVER materialized, so the plan has only the prefix-max window
    (ROWS ... -1 frame; no currentrow-framed running sum) and the final
    bare-key agg reuses the window's exchange: exactly ONE
    hashpartitioning on the user key, no (key, island) intermediate.
    The old shape ran a second island-id window plus a two-level agg.
    x27 keys on user_id (high cardinality) so the serial per-key lane
    is the measured-fastest arm (scripts/x26_x27_shape_ab_sf10_out.json
    — the bucketed lane exists for low-cardinality callers and is
    property-tested grain-invariant)."""
    df = Q["x27_interval_coverage"](spark, SF)
    p = plan(spark, df)
    assert "windowspecdefinition" in p, p
    assert "currentrow" not in p.lower(), f"island-id running sum leaked back:\n{p}"
    n_hash = p.count("hashpartitioning(")
    assert n_hash == 1, f"expected 1 user-key exchange, plan has {n_hash}:\n{p}"


def test_l6_temperature_no_bare_lang_window(spark, Q):
    """L6r (round 13): the per-lang md5 rank rides the distributed
    keyed prefix count (operators/prefixsum.py) — lang has 4 values, so
    a bare-key window would serialize the corpus into 4 sort tasks
    (§7c; measured 0.93 -> 0.64 s at sf10). The plan must carry the
    keyed-prefix machinery's pid column, and every full-data window
    spec must include it (bare-key windows appear only above the
    model-sized carry-in frame, whose input is an aggregate)."""
    p = plan(spark, Q["l6_temperature_sample"](spark, SF))
    assert "__ps_pid" in p, f"keyed-prefix machinery missing from plan:\n{p}"
    import re

    heavy_specs = [
        s for s in re.findall(r"windowspecdefinition\(([^)]*)\)", p) if "__h#" in s
    ]
    assert heavy_specs and all("__ps_pid#" in s for s in heavy_specs), heavy_specs


def test_a22_no_global_window(spark, Q):
    """A22: equi-depth bucketing must NOT use a global ntile/row_number
    window (the single-reducer scale-killer) NOR the exact `percentile`
    aggregate (distinct-value buffer on the final reducer — SCALE.md
    §7d). Round-7 contract (operators/quantiles.equi_depth_histogram):
    at this compact scale the WHOLE histogram is one fused Arrow task
    (MapInPandas — one job); the distributed branch (checked below via
    a zeroed byte bound) broadcasts the one-row cuts frame into a
    single bucketing scan with partial+final limb sums."""
    from pyspark.sql import functions as F

    p = plan(spark, Q["a22_equi_depth_histogram"](spark, SF))
    assert "percentile" not in p
    assert "MapInPandas" in p
    assert "ntile" not in p and "row_number" not in p

    from kompactor_spark.operators import quantiles as Qz
    from kompactor_spark.queries.relational_ext import _A22_PROBS
    from kompactor_spark.tables import loader

    o = loader(SF, spark)("orders").select(F.col("o_totalprice").alias("p"))
    old = Qz._SMALL_EST_BYTES
    old_rows = Qz._SMALL_MAX_ROWS
    try:
        Qz._SMALL_EST_BYTES = -1
        Qz._SMALL_NPARTS = -1
        # round 9: also defeat the collapse-first medium bypass (it
        # would satisfy any collapsible input with a one-task weighted
        # kernel) so the COMPOSED distributed branch is what compiles
        Qz._SMALL_MAX_ROWS = -1
        dist = plan(spark, Qz.equi_depth_histogram(o, "p", _A22_PROBS))
    finally:
        Qz._SMALL_EST_BYTES = old
        Qz._SMALL_NPARTS = 2
        Qz._SMALL_MAX_ROWS = old_rows
    assert "percentile" not in dist
    assert "BroadcastExchange" in dist or "Broadcast" in dist
    assert "partial_sum" in dist
    assert "MapInPandas" not in dist


def test_quantiles_distributed_path_no_full_shuffle(spark):
    """The distributed quantile path (wide inputs) must contain no
    full-data exchange: the exp-histogram is a map-side-combined
    aggregate and the boundary sort shuffles only hit-bin rows. Pin:
    no repartitionByRange/Sort over the full input, no percentile."""
    from pyspark.sql import functions as F

    from kompactor_spark.operators import quantiles as Qz

    df = spark.range(0, 50_000, 1, 32).select(
        ((F.col("id") * 48271 % 65537) / F.lit(3.0)).alias("v")
    )
    # pin the distributed branch: the round-7 byte gate would route this
    # test-sized input through the one-task fast path otherwise
    old = Qz._SMALL_EST_BYTES
    try:
        Qz._SMALL_EST_BYTES = -1
        Qz._SMALL_NPARTS = -1
        cuts_df, _ = Qz.exact_quantile_cuts(df, "v", [0.25, 0.5, 0.9])
    finally:
        Qz._SMALL_EST_BYTES = old
        Qz._SMALL_NPARTS = 2
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    p = cuts_df._jdf.queryExecution().explainString(mode)
    assert "percentile" not in p
    assert "MapInPandas" not in p  # wide input -> distributed path
    assert "rangepartitioning" not in p.lower()
    # the only window is over the iid-filtered boundary rows
    assert "Window" in p


def test_g3_rank_join_scale_conditional(spark, Q):
    """G3 (VERDICT r5 #2): the per-iteration rank-side join must be
    broadcast below the node-count ceiling and a plain keyed shuffle
    join above it — broadcast is O(|nodes|) executor memory and cannot
    be the only path. Both paths must produce identical rows (the limb
    sums are order-independent integers)."""
    from kompactor_spark.queries.graph import _pagerank_impl

    p_bcast = _pagerank_impl(spark, SF)  # default ceiling: broadcast
    plan_b = plan(spark, p_bcast)
    assert "BroadcastHashJoin" in plan_b

    p_shuf = _pagerank_impl(spark, SF, broadcast_max_nodes=0)  # force shuffle
    plan_s = plan(spark, p_shuf)
    # rank joins are no longer broadcast: every join of the iteration
    # chain is a shuffle-side join (SortMerge or ShuffledHash)
    assert "SortMergeJoin" in plan_s or "ShuffledHashJoin" in plan_s

    rows_b = [tuple(r) for r in p_bcast.collect()]
    rows_s = [tuple(r) for r in p_shuf.collect()]
    assert rows_b == rows_s and len(rows_b) > 0


def test_j16_band_join_is_broadcast_nested_loop(spark, Q):
    """J16: the K-row band dim is broadcast; the fact side is never
    exchanged below the join (nested-loop over a constant inner side is
    the RIGHT plan here)."""
    p = plan(spark, Q["j16_band_join_lookup"](spark, SF))
    assert "BroadcastNestedLoopJoin" in p
    below = p.split("BroadcastNestedLoopJoin")[1]
    assert "hashpartitioning(value" not in below


def test_m10_top_slice_is_take_ordered(spark, Q):
    """M10: the heavy-key slice comes from TakeOrderedAndProject (never
    a full global sort or a window over all keys before the cut)."""
    p = plan(spark, Q["m10_skew_report"](spark, SF))
    assert "TakeOrderedAndProject" in p


def test_x30_range_frame_single_user_exchange(spark, Q):
    """X30: the sliding-rate window and the per-user rollup share one
    user_id exchange."""
    p = plan(spark, Q["x30_rate_spike"](spark, SF))
    assert p.count("hashpartitioning(user_id") == 1


def test_j17_single_user_exchange(spark, Q):
    """J17: the whole PIT join is ONE keyed window pass — a single
    user_id exchange over the unioned change+fact stream, no join
    operator at all."""
    p = plan(spark, Q["j17_point_in_time_join"](spark, SF))
    assert p.count("hashpartitioning(user_id") == 1
    assert "Join" not in p  # union+window mechanism, not an interval join


def test_a25_no_low_cardinality_window(spark, Q):
    """A25 (round-8 rewrite): the cumulative weight comes from the
    distributed prefix-sum (range partition on the full order), NOT a
    window partitioned on the 3-value l_returnflag — that window
    serialized ~n/3 rows through one task per group (139 s at sf10).
    Pin: a range partitioning on the order keys exists, and no window
    orders the full data by l_extendedprice (the only windows left run
    over the bounded totals/offsets frames)."""
    p = plan(spark, Q["a25_weighted_median"](spark, SF))
    assert "rangepartitioning(l_returnflag" in p, p
    # no window PARTITIONED on the low-cardinality flag: the local
    # cumsum windows key on the (32-way) range-partition id, and the
    # offset windows key on degenerate bounded frames
    assert "windowspecdefinition(l_returnflag" not in p, p


def test_l4_vocab_coverage_no_global_rank_window(spark, Q):
    """L4o: the top-K slices come from TakeOrderedAndProject — no rank
    window over the whole vocabulary."""
    p = plan(spark, Q["l4_vocab_coverage"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p


def _assert_prefix_sum_plan(p: str, value_frag: str):
    """Shared pin for the two-pass prefix-sum shape: every full-data
    window keys on the range-bucket id (never an unpartitioned window
    over the data), and the range frame is the single checkpointed
    materialization both passes read (the pid-consistency guarantee —
    operators/prefixsum.py module docstring)."""
    for line in p.splitlines():
        if f"Window [sum({value_frag}" in line:
            assert "__ps_pid" in line, line
    assert "Scan ExistingRDD" in p  # the localCheckpoint'd ranged frame


def test_l6_token_budget_distributed_prefix_sum(spark, Q):
    """L6a: the corpus-wide running token sum is the two-pass range
    prefix sum (operators/prefixsum.py) — no global single-partition
    window over the documents; the only unpartitioned window runs over
    the bounded per-partition totals (<= shuffle.partitions rows)."""
    df = Q["l6_token_budget"](spark, SF)
    _assert_prefix_sum_plan(plan(spark, df), "n_tokens")


def test_w15_gini_no_global_rank_window(spark, Q):
    """W15: the global revenue rank is the distributed two-pass prefix
    count, not a single-partition row_number window."""
    df = Q["w15_gini_revenue"](spark, SF)
    _assert_prefix_sum_plan(plan(spark, df), "1")


def test_expansion_width_pin_helper(spark):
    """operators/expansion.py: the shared pin keeps an explicit
    partition count that AQE cannot coalesce — the guard that prevents
    the next expansion join from regressing to 1-2 tasks (the measured
    679 s l2_containment_pairs trap)."""
    from pyspark.sql import functions as F

    from kompactor_spark.operators.expansion import pin_expansion_width

    df = spark.range(1000).select((F.col("id") % 5).alias("k"))
    out = pin_expansion_width(df, ["k"], 13)
    assert out.rdd.getNumPartitions() == 13
    # default width follows spark.sql.shuffle.partitions
    dflt = pin_expansion_width(df, ["k"])
    assert dflt.rdd.getNumPartitions() == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_expansion_pins_survive_in_operators(spark):
    """The three historical trap sites all route through the shared
    helper: their plans carry a REPARTITION_BY_NUM exchange on the
    expansion key (exempt from AQE coalescing)."""
    from pyspark.sql import functions as F

    from kompactor_spark.operators import dedup as D
    from kompactor_spark.operators.dedup import jaccard_pairs, minhash_band_pairs
    from kompactor_spark.operators.rangejoin import binned_interval_join

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + str(i)) for i in range(20)],
        "doc_id long, text string",
    )
    # pin the DISTRIBUTED branch: the index checkpoint's plan cut hides
    # the pin from explain output, and the fused small-input kernel
    # would absorb this test-sized corpus entirely (round 7)
    old_ck, old_reps = D._CHECKPOINT_INDEX, D._FUSED_PAIRS_MAX_REPS
    try:
        D._CHECKPOINT_INDEX = False
        D._FUSED_PAIRS_MAX_REPS = -1
        p1 = plan(spark, jaccard_pairs(docs))
    finally:
        D._CHECKPOINT_INDEX = old_ck
        D._FUSED_PAIRS_MAX_REPS = old_reps
    assert "REPARTITION_BY_NUM" in p1
    p2 = plan(spark, minhash_band_pairs(docs))
    assert "REPARTITION_BY_NUM" in p2
    pts = spark.range(100).select(F.col("id").alias("pt_id"), (F.col("id") * 1000).alias("t"))
    ivs = spark.range(10).select(
        F.col("id").alias("iv_id"),
        (F.col("id") * 10000).alias("s"),
        (F.col("id") * 10000 + 5000).alias("e"),
    )
    p3 = plan(spark, binned_interval_join(pts, ivs, "t", "s", "e", bucket_ns=10000))
    assert "REPARTITION_BY_NUM" in p3


def test_hot_shingle_anti_join_scale_conditional(spark):
    """Dedup hot-shingle filter (VERDICT r6 #6): the anti-join against
    the hot-shingle set must be a broadcast below the input-size bound
    and a co-partitioned shuffle join above it — the escape hatch is
    code, not a docstring instruction. Both branches must produce
    identical pairs."""
    from kompactor_spark.operators import dedup as D

    # docs 2i/2i+1 are near-identical (rare shared shingles -> pairs);
    # the "alpha beta gamma delta" head is hot (40 docs > freq 5) and
    # must ride the anti-join under test
    docs = spark.createDataFrame(
        [
            (i, f"alpha beta gamma delta u{i // 2} v{i // 2} w{i // 2} x{i // 2} y{i % 2}")
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    # force the distributed index (the fused small-input kernel has no
    # anti-join to inspect)
    old_reps = D._FUSED_PAIRS_MAX_REPS
    try:
        D._FUSED_PAIRS_MAX_REPS = -1
        # broadcast branch (tiny input estimate)
        bcast = plan(spark, D.jaccard_pairs(docs, threshold=0.1, max_shingle_freq=5))
        assert "BroadcastHashJoin" in bcast and "LeftAnti" in bcast

        # shuffle branch: force the dispatch over the bound, and disable
        # auto-broadcast so Catalyst can't independently re-broadcast the
        # tiny test-sized hot set (at real scale the estimate is over the
        # auto threshold too)
        old = D._HOT_BCAST_MAX_INPUT_EST
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            D._HOT_BCAST_MAX_INPUT_EST = -1
            shuf_df = D.jaccard_pairs(docs, threshold=0.1, max_shingle_freq=5)
            shuf = plan(spark, shuf_df)
            assert "LeftAnti" in shuf
            # the anti-join must not be broadcast in this branch
            anti_lines = [ln for ln in shuf.splitlines() if "LeftAnti" in ln]
            assert anti_lines and all("Broadcast" not in ln for ln in anti_lines), shuf
            got_shuffle = sorted((r.id_a, r.id_b) for r in shuf_df.collect())
        finally:
            D._HOT_BCAST_MAX_INPUT_EST = old
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        got_bcast = sorted(
            (r.id_a, r.id_b)
            for r in D.jaccard_pairs(docs, threshold=0.1, max_shingle_freq=5).collect()
        )
    finally:
        D._FUSED_PAIRS_MAX_REPS = old_reps
    assert got_shuffle == got_bcast and len(got_bcast) > 0


def test_minhash_lsh_join_not_broadcast(spark):
    """minhash_lsh_pairs (carried VERDICT minor): approxSimilarityJoin's
    internal explode+self-join under-estimates its exploded hash side
    and used to pick a driver-breaking broadcast beyond grading scale.
    The SHUFFLE_MERGE hint on the feature frame must propagate through
    the pyspark.ml wrapper's internal join and pin it to sort-merge."""
    from kompactor_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma u{i // 2} v{i // 2} w{i // 2} x{i} y{i}") for i in range(20)],
        "doc_id long, text string",
    )
    p = plan(spark, D.minhash_lsh_pairs(docs, jaccard_threshold=0.1))
    join_lines = [ln for ln in p.splitlines() if "Join" in ln and "LeftAnti" not in ln]
    assert join_lines, p
    assert all("BroadcastHashJoin" not in ln for ln in join_lines), p
    assert any("SortMergeJoin" in ln for ln in join_lines), p


def test_a9c_no_low_cardinality_window(spark, Q):
    """A9c (round-8 rewrite): per-group discrete percentile ranks come
    from the distributed row_number (range partition on the full
    order), not a window partitioned on the 3-value l_returnflag."""
    p = plan(spark, Q["a9c_percentile_disc"](spark, SF))
    assert "rangepartitioning(l_returnflag" in p, p
    assert "windowspecdefinition(l_returnflag" not in p, p


def test_l7g_no_self_join(spark, Q):
    """L7g (round-8 rewrite): the d² covariance power sums come from
    the exact limb-matmul Arrow kernel over ONE scan — no flat⋈flat
    self-join (819M decimal products, 705 s at sf10) remains. The
    plan's only join-free heavy node is the mapInPandas kernel."""
    import inspect

    from kompactor_spark.queries import llm_pipeline as L

    src = inspect.getsource(L.l7g_pca_power)
    assert "mapInPandas" in src and ".join(" not in src


def test_l6_decontaminate_windowed_equi_join(spark, Q):
    """L6 decontamination (round-8 rewrite, commit 0fac047): the
    corpus⋈probes containment must stay the length-L windowed HASH
    equi-join — a regression to the theta `contains` form compiles to
    BroadcastNestedLoopJoin (|corpus|×|probes| substring calls, 2.5e9
    at sf10 = 160 s, unboundedly worse at 100 TB)."""
    p = plan(spark, Q["l6_decontaminate"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    # the explode is the bounded L-gram window generator, present once
    # per distinct probe length (=1 for the fixed 12-char prefixes)
    assert p.count("Generate explode") == 1, p


def test_g1_edge_build_is_kernel_not_join(spark, Q):
    """g1 (round-11 rewrite, the measured A/B winner — VERDICT r10 #1):
    the co-occurrence edge build is ONE set-aggregation shuffle + the
    Arrow pair kernel + a model-sized partial-count agg. The plan must
    carry the MapInPandas kernel and NO join of any kind — the old
    self-join shape pushed ~136M pair rows through SMJ + a two-bigint-
    key hash agg (13.99 s vs the kernel's 4.71 s at sf10, DuckDB
    4.52 s)."""
    p = plan(spark, Q["g1_cooccurrence_graph"](spark, SF))
    assert "MapInPandas" in p
    assert "BatchEvalPython" not in p
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoop"):
        assert join not in p, join
    assert "collect_set" in p or "objectagg" in p.lower()


def test_graph_family_never_broadcasts_edge_frames(spark, Q):
    """Round 11: the edge frame descends from the pair kernel
    (MapInPandas), whose size estimate is garbage-small — on the
    16.8M-edge skewed fixture Catalyst chose the EDGE LIST as a
    broadcast build side and OOM'd the 8g driver. Every join in the
    g-family now pins its strategy explicitly (shuffle_hash on
    node-sized degree/weight frames, merge on edge x edge), so these
    plans must contain no stats-driven BroadcastExchange at all. The
    one legitimate broadcast is g3's EXPLICIT rank-frame hint below its
    node-count ceiling — asserted separately."""
    for name in ("g4_triangle_count", "g5_neighbor_jaccard", "g6_degree_assortativity"):
        p = plan(spark, Q[name](spark, SF))
        assert "BroadcastExchange" not in p, name
    # g5/g6 run their degree joins ABOVE their checkpoints — the pinned
    # hash build must be visible in the final plan
    for name in ("g5_neighbor_jaccard", "g6_degree_assortativity"):
        p = plan(spark, Q[name](spark, SF))
        assert "ShuffledHashJoin" in p, name
    # g4's degree joins live INSIDE _oriented_edges' checkpointed
    # lineage (localCheckpoint runs at construction, so the final plan
    # only shows Scan ExistingRDD) — pin the helper's plan directly
    from kompactor_spark.queries.graph import (
        _cooccurrence_edges,
        _oriented_edges,
        _pagerank_impl,
    )

    e = _cooccurrence_edges(spark, SF).select("u", "v")
    p = plan(spark, _oriented_edges(e))
    assert "BroadcastExchange" not in p
    assert p.count("ShuffledHashJoin") == 2
    # g3 at test scale sits under the broadcast ceiling: its ONLY
    # broadcast is the hinted rank frame (one per iteration + none for
    # the edge fold, which is pinned shuffle_hash)
    p = plan(spark, _pagerank_impl(spark, SF, broadcast_max_nodes=0))
    assert "BroadcastExchange" not in p, "g3 above-ceiling path must not broadcast"


def test_g4_g5_route_through_degree_orientation(spark):
    """G4/G5 (round-9 rewrite): both wedge expansions must route
    through the degree-oriented enumeration — an id-oriented wedge
    join puts in(b)*out(b) wedges on a mid-id hub (quadratic in hub
    degree); the (degree, id) orientation bounds total wedges at
    O(E^1.5) for any skew. Semantics are pinned by the brute-force
    property test; this pins the routing."""
    import inspect

    from kompactor_spark.queries import graph as G

    assert "_oriented_triangles_from" in inspect.getsource(G.g4_triangle_count)
    assert "_oriented_triangles_from" in inspect.getsource(G.g5_neighbor_jaccard)


def test_pq_assign_agg_argmin_no_window(spark, Q):
    """PQ encoder (round-9 rewrite, VERDICT r9 #5): the per-(vec_id,
    sub) nearest-code argmin must be an AGGREGATE min over the
    (d2, code) struct — partial+final, so the k-candidate expansion
    partial-combines map-side before any shuffle — and never a Window/
    row_number over the |vecs|*n_sub*k expansion (the 86 s sf10 form:
    that window shuffled AND sorted all 25.6M candidate rows)."""
    p = plan(spark, Q["l3g_pq_codebook"](spark, SF))
    assert "Window" not in p, p
    assert "row_number" not in p, p
    # map-side combine of the argmin: a partial_min on the (d2, code)
    # struct (Spark plans struct-min as SortAggregate; the partial is
    # what caps the shuffle at one row per (vec_id, sub) per task)
    assert "partial_min(struct(d2" in p, p
    # both assignment passes (initial + post-refinement) keep the shape;
    # the deliberately-uncheckpointed a1 subtree prints its pass once
    # per consumer, so count is >= 2, not == 2
    assert p.count("partial_min(struct(d2") >= 2, p


def test_dim_broadcast_policy_switch(spark, Q):
    """Round-14 broadcast audit: SF-proportional dimension sides (TPC-H
    customer/supplier/part, the surprisal vocabulary) route through
    session.dim_broadcast. Default (force) keeps the measured explicit
    hint; KOMPACTOR_DIM_BROADCAST=auto emits NO hint so the
    deployment's threshold + AQE pick the strategy — the only safe
    choice once a "dimension" can outgrow executor memory. Pinned by
    disabling auto-broadcast: force still broadcasts (hint outranks the
    threshold), auto does not (nothing left to force it)."""
    import os

    q14 = Q["q14_promo_revenue"]
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p_force = plan(spark, q14(spark, SF))
        assert "BroadcastHashJoin" in p_force, p_force
        os.environ["KOMPACTOR_DIM_BROADCAST"] = "auto"
        try:
            p_auto = plan(spark, q14(spark, SF))
        finally:
            del os.environ["KOMPACTOR_DIM_BROADCAST"]
        assert "BroadcastHashJoin" not in p_auto, p_auto
        # true constants (nation/region) stay unconditional: j9 under
        # auto keeps its dim broadcasts while the customer side unpins
        os.environ["KOMPACTOR_DIM_BROADCAST"] = "auto"
        try:
            p_j9 = plan(spark, Q["j9_star_join"](spark, SF))
        finally:
            del os.environ["KOMPACTOR_DIM_BROADCAST"]
        assert "BroadcastHashJoin" in p_j9  # nation/region remain forced
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_dim_broadcast_modes_result_invariant(spark, Q):
    """The dim_broadcast switch changes join STRATEGY only — auto-mode
    results must be bit-identical to force-mode for a query whose plan
    genuinely differs between modes (q14 under a disabled threshold:
    broadcast vs sort-merge join)."""
    import os

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = Q["q14_promo_revenue"](spark, SF).toPandas()
        os.environ["KOMPACTOR_DIM_BROADCAST"] = "auto"
        try:
            b = Q["q14_promo_revenue"](spark, SF).toPandas()
        finally:
            del os.environ["KOMPACTOR_DIM_BROADCAST"]
        assert a.equals(b), (a, b)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
