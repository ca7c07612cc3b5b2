"""Sketch-carrying time rollups (continuous-aggregate pattern).

The time-series staple the reference's InfluxDB lineage implies
(hypertable rollups / continuous aggregates): materialize ONE hourly
rollup whose columns are re-aggregatable — algebraic measures (count,
sum) plus mergeable sketches (DataSketches HLL for distincts, KLL for
quantiles) — and answer every coarser-grain question (day, month, ad
hoc unions of hours) from the rollup alone.

At 100 TB this is the difference between re-scanning the raw events
for each dashboard tile and merging a few thousand KB-sized rollup
rows: counts and sums stay EXACT under re-aggregation, distincts and
quantiles carry sketch error bounds, and the raw table is touched
exactly once per hour (by the rollup job itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kompactor_spark.timeutil import NS_PER_HOUR, ns_bucket


def hourly_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """One row per (hour, key): exact count/sum + HLL(user) + KLL(value).

    This is the only pass over the raw table; everything downstream
    re-aggregates these columns.
    """
    return events.groupBy(
        ns_bucket(F.col(ts_col), NS_PER_HOUR).alias("hour_ns"),
        F.col(key_col).alias("key"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_col)).alias("sum_value"),
        F.hll_sketch_agg(F.col(user_col)).alias("users_hll"),
        F.kll_sketch_agg_double(F.col(value_col)).alias("value_kll"),
    )


def reaggregate(rollup: DataFrame, bucket_ns: int) -> DataFrame:
    """Fold an hourly rollup to any coarser grain WITHOUT touching the
    raw table: sums add, sketches merge."""
    return rollup.groupBy(
        ns_bucket(F.col("hour_ns"), bucket_ns).alias("bucket_ns"),
        "key",
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sum_value").alias("sum_value"),
        F.hll_sketch_estimate(F.hll_union_agg("users_hll"))
        .cast("bigint")
        .alias("approx_users"),
        F.kll_sketch_get_quantile_double(F.kll_merge_agg_double("value_kll"), F.lit(0.5))
        .alias("approx_p50_value"),
    )


# ---------------------------------------------------------------------------
# EXACT rollups (fixed-point limb state) — the algebraic counterpart of
# the sketch rollup above. Counts and limb sums are associative in
# integer space, so rollup-of-rollups == raw recompute BIT-FOR-BIT at
# any grain (see queries/timeseries.py::k3_incremental_rollup for the
# oracle-proved version, and kompactor_spark/fixedpoint.py for the
# overflow bounds — safe past 1e12 rows per group).
# ---------------------------------------------------------------------------


def exact_hourly_rollup(
    df: DataFrame,
    time_col: str = "time",
    value_col: str = "value",
    key_cols: tuple[str, ...] = (),
    scale: int = 6,
    grain_ns: int = NS_PER_HOUR,
) -> DataFrame:
    """One pass over raw rows → re-aggregatable exact state per
    (key, grain bucket): n, v_hi/v_lo limb sums, exact min/max units."""
    from kompactor_spark import fixedpoint as fx

    units = fx.to_units(value_col, scale)
    hi, lo = fx.limb_split(units)
    return (
        df.select(
            *key_cols,
            ns_bucket(F.col(time_col), grain_ns).alias("bucket_ns"),
            hi.alias("_hi"),
            lo.alias("_lo"),
            units.alias("_u"),
        )
        .groupBy(*key_cols, "bucket_ns")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_hi").alias("v_hi_s"),
            F.sum("_lo").alias("v_lo_s"),
            F.min("_u").alias("v_min_units"),
            F.max("_u").alias("v_max_units"),
        )
    )


def exact_reaggregate(
    rollup: DataFrame,
    grain_ns: int,
    key_cols: tuple[str, ...] = (),
    scale: int = 6,
) -> DataFrame:
    """Answer a coarser grain from rollup rows alone (no raw rescan):
    sums re-aggregate the limbs, min/max re-aggregate units; the exact
    decimal value_sum is rebuilt once per output row."""
    from kompactor_spark import fixedpoint as fx

    return (
        rollup.groupBy(
            *key_cols,
            (F.col("bucket_ns") - F.col("bucket_ns") % grain_ns).cast("long").alias("bucket_ns"),
        )
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("v_hi_s").alias("v_hi_s"),
            F.sum("v_lo_s").alias("v_lo_s"),
            F.min("v_min_units").alias("v_min_units"),
            F.max("v_max_units").alias("v_max_units"),
            fx.exact_sum("v_hi_s", "v_lo_s", scale).cast("double").alias("value_sum"),
        )
    )
