"""operators/quantiles.py — exact order-statistics quantiles.

Contract: bit-identical to Spark's exact ``percentile`` aggregate (whose
quantile_cont parity the driver proves via a9/a22) on any distribution,
including heavy ties and single-row inputs, while never building a
distinct-value buffer.
"""

from __future__ import annotations

import math
import struct

from pyspark.sql import functions as F

import pytest

from kompactor_spark.operators.quantiles import exact_quantiles

PROBS = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


@pytest.fixture
def force_distributed(monkeypatch):
    """Pin the DISTRIBUTED histogram-refinement path: the round-7
    byte-estimate dispatch (_compact_input) would route every
    test-sized input through the one-task Arrow fast path, silently
    un-covering the distributed machinery these tests exist for."""
    from kompactor_spark.operators import quantiles as Qz

    monkeypatch.setattr(Qz, "_SMALL_EST_BYTES", -1)
    monkeypatch.setattr(Qz, "_SMALL_NPARTS", -1)


def _bits(x: float) -> str:
    return struct.pack("<d", float(x)).hex()


def _spark_percentile(df, col, probs):
    arr = ", ".join(str(p) for p in probs)
    return df.agg(F.expr(f"percentile({col}, array({arr}))")).collect()[0][0]


def _assert_bit_equal(got, ref):
    assert len(got) == len(ref)
    for g, r in zip(got, ref):
        assert _bits(g) == _bits(r), (g, r)


def test_matches_percentile_nearly_distinct(spark, force_distributed):
    df = spark.range(0, 100_000).select(
        ((F.col("id") * 2654435761 % 999983) / F.lit(7.0)).alias("v")
    )
    cuts, _ = exact_quantiles(df, "v", PROBS)
    _assert_bit_equal(cuts, _spark_percentile(df, "v", PROBS))


def test_matches_percentile_heavy_ties(spark, force_distributed):
    df = spark.range(0, 50_000).select((F.col("id") % 7).cast("double").alias("v"))
    cuts, _ = exact_quantiles(df, "v", PROBS)
    _assert_bit_equal(cuts, _spark_percentile(df, "v", PROBS))


def test_single_row_and_nulls(spark):
    df = spark.createDataFrame(
        [(42.5,), (None,)], "v double"
    )
    cuts, _ = exact_quantiles(df, "v", PROBS)
    assert all(_bits(c) == _bits(42.5) for c in cuts)


def test_empty_returns_nan(spark):
    df = spark.range(0).select(F.col("id").cast("double").alias("v"))
    cuts, _ = exact_quantiles(df, "v", [0.5])
    assert len(cuts) == 1 and math.isnan(cuts[0])


def test_second_pass_frame_is_complete(spark):
    df = spark.range(0, 10_000).select((F.col("id") % 100).cast("double").alias("v"))
    _, ranged = exact_quantiles(df, "v", [0.5])
    assert ranged.count() == 10_000


def test_matches_percentile_under_forced_refinement(spark, force_distributed):
    # task_cap far below n with few bins: resolution must recurse
    # through multiple binning levels and still come back bit-exact.
    df = spark.range(0, 100_000).select(
        ((F.col("id") * 2654435761 % 999983) / F.lit(7.0)).alias("v")
    )
    cuts, _ = exact_quantiles(df, "v", PROBS, num_bins=8, task_cap=500, max_levels=8)
    _assert_bit_equal(cuts, _spark_percentile(df, "v", PROBS))


def test_refinement_with_massive_tie_block(spark, force_distributed):
    # 90% of rows are one tied value (a bin that can never subdivide):
    # the tie fast-path must resolve it without a sort, and the tail
    # quantile must still be exact.
    df = spark.range(0, 50_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(5.0))
        .otherwise((F.col("id") % 997).cast("double") / 10.0 + 100.0)
        .alias("v")
    )
    cuts, _ = exact_quantiles(df, "v", PROBS, num_bins=16, task_cap=1000)
    _assert_bit_equal(cuts, _spark_percentile(df, "v", PROBS))


def test_inplan_cuts_bit_match_eager(spark, force_distributed):
    # exact_quantile_cuts's lazy interpolation must be bit-identical to
    # the eager path (and hence to percentile).
    from kompactor_spark.operators.quantiles import exact_quantile_cuts

    df = spark.range(0, 80_000).select(
        ((F.col("id") * 1103515245 % 714025) / F.lit(13.0) - 2000.0).alias("v")
    )
    cuts_df, _ = exact_quantile_cuts(df, "v", PROBS)
    got = list(cuts_df.collect()[0]["cuts"])
    _assert_bit_equal(got, _spark_percentile(df, "v", PROBS))


def test_small_input_fast_path_bit_match(spark):
    # compact (byte-estimate-gated) input -> one-task local-sort path;
    # must be bit-identical to percentile and to the distributed path.
    df = (
        spark.range(0, 30_000)
        .select(((F.col("id") * 48271 % 65537) / F.lit(3.0)).alias("v"))
        .coalesce(2)
    )
    cuts, _ = exact_quantiles(df, "v", PROBS)
    _assert_bit_equal(cuts, _spark_percentile(df, "v", PROBS))


def test_byte_gate_dispatch(spark):
    # Round 7 (ADVICE r6): dispatch rides the Catalyst size ESTIMATE,
    # not the split count — a 32-split but tiny input takes the
    # one-task Arrow path (MapInPandas in the plan); the same input
    # under a zeroed byte bound routes distributed (no MapInPandas).
    from kompactor_spark.operators import quantiles as Qz

    df = spark.range(0, 50_000, 1, 32).select(
        ((F.col("id") * 48271 % 65537) / F.lit(3.0)).alias("v")
    )
    assert df.rdd.getNumPartitions() == 32
    cuts_df, _ = Qz.exact_quantile_cuts(df, "v", [0.5])
    fast_plan = cuts_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in fast_plan
    old = Qz._SMALL_EST_BYTES
    try:
        Qz._SMALL_EST_BYTES = -1
        Qz._SMALL_NPARTS = -1
        cuts_df2, _ = Qz.exact_quantile_cuts(df, "v", [0.5])
        dist_plan = cuts_df2._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in dist_plan
    finally:
        Qz._SMALL_EST_BYTES = old
        Qz._SMALL_NPARTS = 2
    got = list(cuts_df.collect()[0]["cuts"])
    ref = list(cuts_df2.collect()[0]["cuts"])
    _assert_bit_equal(got, ref)


def test_distributed_empty_and_single_row(spark, force_distributed):
    # distributed-path twins of the compact edge cases
    import math as _m

    empty = spark.range(0).select(F.col("id").cast("double").alias("v"))
    cuts, _ = exact_quantiles(empty, "v", [0.5])
    assert _m.isnan(cuts[0])
    one = spark.createDataFrame([(42.5,), (None,)], "v double")
    cuts, _ = exact_quantiles(one, "v", PROBS)
    assert all(_bits(c) == _bits(42.5) for c in cuts)


def test_equi_depth_histogram_kernel_matches_distributed(spark):
    # The fused one-task kernel and the composed cuts+bucketing plan
    # must agree bit-for-bit on every output column (counts, raw
    # min/max doubles, correctly-rounded decimal totals).
    from kompactor_spark.operators import quantiles as Qz

    df = spark.range(0, 40_000).select(
        (F.round((F.col("id") * 2654435761 % 999983) / F.lit(100.0), 2)).alias("v")
    )
    fast = Qz.equi_depth_histogram(df, "v", [0.25, 0.5, 0.75]).orderBy("bucket").collect()
    old = Qz._SMALL_EST_BYTES
    try:
        Qz._SMALL_EST_BYTES = -1
        Qz._SMALL_NPARTS = -1
        slow = (
            Qz.equi_depth_histogram(df, "v", [0.25, 0.5, 0.75]).orderBy("bucket").collect()
        )
    finally:
        Qz._SMALL_EST_BYTES = old
        Qz._SMALL_NPARTS = 2
    assert len(fast) == len(slow) == 4
    for a, b in zip(fast, slow):
        assert a["bucket"] == b["bucket"] and a["n"] == b["n"]
        for c in ("lo", "hi", "total"):
            assert _bits(a[c]) == _bits(b[c]), (c, a, b)


def test_equi_depth_histogram_tied_cuts_skip_empty_buckets(spark):
    # 95% of rows share one value -> several cuts tie at it -> the
    # buckets between tied cuts are empty and must emit NO row, on both
    # paths identically.
    from kompactor_spark.operators import quantiles as Qz

    df = spark.range(0, 10_000).select(
        F.when(F.col("id") % 20 < 19, F.lit(5.0))
        .otherwise((F.col("id") % 97).cast("double") + 100.0)
        .alias("v")
    )
    fast = Qz.equi_depth_histogram(df, "v", [i / 10 for i in range(1, 10)]).orderBy("bucket").collect()
    old = Qz._SMALL_EST_BYTES
    try:
        Qz._SMALL_EST_BYTES = -1
        Qz._SMALL_NPARTS = -1
        slow = (
            Qz.equi_depth_histogram(df, "v", [i / 10 for i in range(1, 10)])
            .orderBy("bucket")
            .collect()
        )
    finally:
        Qz._SMALL_EST_BYTES = old
        Qz._SMALL_NPARTS = 2
    assert [r.asDict() for r in fast] == [r.asDict() for r in slow]
    assert len(fast) < 10  # tied cuts collapsed at least one bucket away


def test_inplan_cuts_all_ties(spark, force_distributed):
    from kompactor_spark.operators.quantiles import exact_quantile_cuts

    df = spark.range(0, 1000).select(F.lit(7.25).alias("v"))
    cuts_df, _ = exact_quantile_cuts(df, "v", PROBS)
    got = list(cuts_df.collect()[0]["cuts"])
    assert all(_bits(c) == _bits(7.25) for c in got)


def test_grouped_all_null_measure_group_kept(spark):
    # ADVICE r5: n must be COUNT(*) (not COUNT(v)) and a group whose
    # measures are entirely NULL must surface with NULL quantiles —
    # matching GROUP BY g, COUNT(*), quantile_cont(v, ...).
    from kompactor_spark.operators.quantiles import grouped_exact_quantiles

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", None), ("b", None)],
        "g string, v double",
    )
    got = grouped_exact_quantiles(df, ["g"], "v", {"p50": 0.5}).orderBy("g").toPandas()
    assert list(got["g"]) == ["a", "b"]
    assert list(got["n"]) == [3, 2]  # COUNT(*), not COUNT(v)
    assert _bits(got["p50"][0]) == _bits(2.0)  # quantile over non-NULLs
    assert got["p50"].isna()[1]  # all-NULL group: NULL quantile, row kept


def test_grouped_matches_grouped_percentile(spark):
    from kompactor_spark.operators.quantiles import grouped_exact_quantiles

    df = spark.range(0, 60_000).select(
        (F.col("id") % 7).alias("g1"),
        (F.col("id") % 3).cast("string").alias("g2"),
        ((F.col("id") * 2654435761 % 999983) / F.lit(11.0)).alias("v"),
    )
    got = (
        grouped_exact_quantiles(df, ["g1", "g2"], "v", {"p25": 0.25, "p50": 0.5, "p95": 0.95})
        .orderBy("g1", "g2")
        .toPandas()
    )
    ref = (
        df.groupBy("g1", "g2")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile(v, 0.25)").alias("p25"),
            F.expr("percentile(v, 0.5)").alias("p50"),
            F.expr("percentile(v, 0.95)").alias("p95"),
        )
        .orderBy("g1", "g2")
        .toPandas()
    )
    assert len(got) == len(ref) == 21
    for c in ("g1", "n"):
        assert list(got[c]) == list(ref[c])
    for c in ("p25", "p50", "p95"):
        assert [_bits(x) for x in got[c]] == [_bits(x) for x in ref[c]]


def test_grouped_null_group_key_kept(spark):
    from kompactor_spark.operators.quantiles import grouped_exact_quantiles

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), (None, 10.0), (None, 20.0)], "g string, v double"
    )
    got = grouped_exact_quantiles(df, ["g"], "v", {"p50": 0.5}).toPandas()
    assert len(got) == 2  # NULL is a legal SQL group — must not be dropped
    row = got[got["g"].isna()].iloc[0]
    assert row["n"] == 2 and _bits(row["p50"]) == _bits(15.0)


def test_grouped_single_member_groups(spark):
    from kompactor_spark.operators.quantiles import grouped_exact_quantiles

    df = spark.range(0, 5).select(
        F.col("id").alias("g"), (F.col("id") * 1.5).alias("v")
    )
    got = grouped_exact_quantiles(df, ["g"], "v", {"p50": 0.5}).orderBy("g").toPandas()
    assert list(got["n"]) == [1] * 5
    assert [_bits(x) for x in got["p50"]] == [_bits(i * 1.5) for i in range(5)]


def test_grouped_max_groups_guard(spark):
    # VERDICT r7 #7: the bounded-group-count assumption is enforced —
    # same loud-failure class as the dedup pair guard. Fails BEFORE any
    # driver collect; max_groups=None restores the caller-asserted mode.
    from kompactor_spark.operators.quantiles import grouped_exact_quantiles

    df = spark.range(0, 50).select(
        (F.col("id") % 10).alias("g"), (F.col("id") * 1.0).alias("v")
    )
    with pytest.raises(ValueError, match="group count 10 exceeds max_groups=5"):
        grouped_exact_quantiles(df, ["g"], "v", {"p50": 0.5}, max_groups=5)
    ok = grouped_exact_quantiles(df, ["g"], "v", {"p50": 0.5}, max_groups=10)
    assert ok.count() == 10
    off = grouped_exact_quantiles(df, ["g"], "v", {"p50": 0.5}, max_groups=None)
    assert off.count() == 10


def test_compact_dispatch_sentinel_falls_back_to_split_count(spark):
    # ADVICE r7: stats-less plans (LogicalRDD from an RDD-backed
    # createDataFrame; a localCheckpoint cut PROPAGATES stats in Spark
    # 4.x, so it is not one of them) report the Long.MaxValue
    # defaultSizeInBytes sentinel, not a real size. _compact_input must
    # treat that as UNKNOWN and fall back to the split-count test, so
    # tiny in-memory frames keep the one-task fast path (2 splits ->
    # compact) while wide ones route distributed (32 splits -> not).
    from kompactor_spark.operators import quantiles as Qz

    def rdd_frame(nparts):
        rdd = spark.sparkContext.parallelize([(float(i),) for i in range(1000)], nparts)
        return spark.createDataFrame(rdd, "v double")

    narrow = rdd_frame(2)
    est = int(narrow._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est >= (1 << 60)  # precondition: sentinel, not a real size
    assert Qz._compact_input(narrow)
    assert not Qz._compact_input(rdd_frame(32))


def test_equi_depth_out_of_contract_rounding_parity(spark):
    # ADVICE r7: the compact kernel's unit rounding must be
    # half-AWAY-FROM-ZERO like F.round in fixedpoint.to_units, not
    # numpy's half-to-even — visible only for inputs with more
    # fractional digits than `scale` (scaled values landing on exact
    # binary .5: ±m/8 at scale 2). Both paths must agree bit-for-bit
    # even out of contract, since the path taken depends only on the
    # size estimate.
    from kompactor_spark.operators import quantiles as Qz

    vals = [0.125, 0.375, -0.125, -0.375, 2.625, -2.625, 1.0, -1.0]
    df = spark.createDataFrame([(v,) for v in vals * 50], "v double")
    probs = [0.5]
    fast = Qz.equi_depth_histogram(df, "v", probs, scale=2).orderBy("bucket").collect()
    old = Qz._SMALL_EST_BYTES
    try:
        Qz._SMALL_EST_BYTES = -1
        Qz._SMALL_NPARTS = -1
        slow = (
            Qz.equi_depth_histogram(df, "v", probs, scale=2).orderBy("bucket").collect()
        )
    finally:
        Qz._SMALL_EST_BYTES = old
        Qz._SMALL_NPARTS = 2
    assert [r.asDict() for r in fast] == [r.asDict() for r in slow]
    for a, b in zip(fast, slow):
        assert _bits(a["total"]) == _bits(b["total"])


def test_medium_tier_row_confirm(spark, tmp_path):
    # Round 8: the byte gate alone is a poor row-count proxy — a
    # well-compressed single column passes 16 MB with millions of rows
    # (a22 at sf10: 15M rows in one task = 14 s). The gate must be
    # confirmed by the bounded row probe, and the rejected frame must
    # stage onto the MEDIUM tier (fan-out + lazy checkpoint) with cuts
    # still bit-identical to percentile.
    from kompactor_spark.operators import quantiles as Qz

    p = str(tmp_path / "wide.parquet")
    (
        spark.range(0, 3_000_000)
        .select(((F.col("id") % 1000) / 7.0).alias("v"))
        .coalesce(1)
        .write.option("compression", "zstd")
        .parquet(p)
    )
    vals = spark.read.parquet(p)
    est = Qz._plan_size_est(vals)
    assert est is not None and est <= Qz._SMALL_EST_BYTES  # gate passes...
    assert not Qz._compact_input(vals)  # ...row probe rejects one-task
    tier, staged = Qz._stage_input(vals)
    assert tier == "medium"
    assert staged.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    cuts, _ = Qz.exact_quantiles(vals, "v", [0.25, 0.5, 0.9])
    _assert_bit_equal(cuts, _spark_percentile(vals, "v", [0.25, 0.5, 0.9]))


def test_equi_depth_weighted_kernel_matches_rowwise(spark):
    # Round 9: the collapsed (value, count) weighted kernel must be
    # bit-identical to the row-wise kernel — value-at-rank, bucket
    # membership, counts, min/max and exact unit totals are functions
    # of (distinct value, multiplicity) alone. Ties, negatives, and
    # repeated runs included.
    import random

    from kompactor_spark.operators.quantiles import _equi_depth_one_task

    rng = random.Random(7)
    rows = [(round(rng.uniform(-500, 500), 2),) for _ in range(5000)]
    rows += [(42.25,)] * 400 + [(-17.5,)] * 250  # heavy tied runs
    df = spark.createDataFrame(rows, "p double")
    probs = [0.1 * i for i in range(1, 10)]
    rowwise = _equi_depth_one_task(df, "p", probs, scale=2).collect()
    cdf = df.groupBy("p").agg(F.count(F.lit(1)).alias("__w"))
    weighted = _equi_depth_one_task(cdf, "p", probs, scale=2, weight_col="__w").collect()
    key = lambda r: r.bucket  # noqa: E731
    for a, b in zip(sorted(rowwise, key=key), sorted(weighted, key=key)):
        assert (a.bucket, a.n) == (b.bucket, b.n)
        for f in ("lo", "hi", "total"):
            assert struct.pack("<d", getattr(a, f)) == struct.pack("<d", getattr(b, f))
    assert len(rowwise) == len(weighted)


def test_equi_depth_medium_routes_through_collapse(spark, tmp_path):
    # The 3M-row small-bytes parquet frame (the a22-at-sf10 shape) must
    # take the collapse-first path — no medium checkpoint of the full
    # rows — and still agree with Spark percentile on the cut ranks.
    from kompactor_spark.operators.quantiles import equi_depth_histogram

    p = str(tmp_path / "money.parquet")
    (
        spark.range(0, 3_000_000)
        .select(((F.col("id") % 90017) / 100.0).alias("p"))
        .coalesce(1)
        .write.option("compression", "zstd")
        .parquet(p)
    )
    df = spark.read.parquet(p)
    hist = equi_depth_histogram(df, "p", [0.25, 0.5, 0.75], scale=2)
    # collapse-first: ONE mapInPandas kernel, no exchange of full rows
    # beyond the collapse hash agg — pinned via the plan string
    plan = hist._jdf.queryExecution().toString()
    assert "mapInPandas" in plan or "MapInPandas" in plan
    rows = {r.bucket: r for r in hist.collect()}
    assert sum(r.n for r in rows.values()) == 3_000_000
    cuts = _spark_percentile(df, "p", [0.25, 0.5, 0.75])
    # bucket 1 must end exactly at the first cut (hi <= cut1 < next lo)
    assert rows[1].hi <= cuts[0] <= rows[2].lo
