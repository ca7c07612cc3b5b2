"""Exact distributed quantiles via order statistics (no value-map buffer).

Why not ``F.percentile``
------------------------
Spark's exact ``percentile`` aggregate accumulates an OpenHashMap of
``value -> count`` per partition and merges ALL of them into one buffer
on the final reducer. For low-cardinality inputs that is fine; for a
nearly-distinct numeric column (prices, latencies, scores) the final
buffer holds every distinct value in one JVM task — memory grows with
the DATA, not the model, which is exactly the failure mode a 100 TB
engine must not have. (Locally it is also no faster: 2.7 s on 1.5M
mostly-distinct doubles at sf1.)

The round-5 shape was a full ``repartitionByRange`` + checkpoint +
targeted partition sorts — correct and scale-safe, but its job-launch
floor (range-boundary sampling job, checkpoint job, counts job,
boundary job) made a22_equi_depth_histogram 17.9x DuckDB at sf1 even
though per-row work was tiny. Round 6 replaces the range SHUFFLE with
value BINNING — the classic iterative histogram-refinement selection
(distributed quickselect over value bins):

1. ONE map-side-combined ``groupBy`` histogram over a SCALE-FREE
   monotone quantizer — the value's fractional binary-exponent bucket
   ``floor(log2(1 + |v|) * 64)`` signed (~131k possible buckets across
   the whole double range at _EXP_FINENESS=64 — in practice ~64 per
   value octave the data spans; no prior min/max pass needed). Per
   bucket the
   job returns ``(count, min, max)`` — bounded model state — which
   simultaneously yields the global count and locates every wanted
   order statistic inside a bucket. The driver VERIFIES bucket
   contiguity (``max(bucket k) <= min(bucket k+1)``) and merges any
   overlapping neighbors, so correctness never rests on the
   floating-point monotonicity of ``log``;
2. buckets still holding more than ``task_cap`` rows are re-binned
   into ``num_bins`` equal-width sub-bins over their observed
   [min, max] (floor of a positive-scale affine map — provably
   IEEE-monotone; depth <= log_B(n / cap): 2 levels cover 10^13 rows
   at the defaults); bins whose min == max resolve immediately
   (ties collapse to a single value — no sort needed, no skew);
3. ONE final job sorts only the hit bins (``row_number() OVER
   (PARTITION BY bin ORDER BY col)``, each bin <= task_cap rows in
   one task) and keeps the <= 2 * len(probs) boundary values;
4. interpolation uses EXACTLY Spark's ``percentile`` formula
   ``(higher - pos) * lowerValue + (pos - lower) * higherValue``
   (Percentile.getPercentile's symmetric form — NOT the algebraically
   equal ``lo + frac * (hi - lo)``, which is an ulp off on some
   inputs), which the repo's a9 row proved bit-compatible with DuckDB's
   ``quantile_cont`` on the driver's own grading data. The formula is
   evaluated either driver-side (:func:`exact_quantiles`, collecting
   the boundary rows) or IN-PLAN (:func:`exact_quantile_cuts` — the
   boundary sort + interpolation stay lazy, so a caller that buckets
   rows against the cuts pays ONE action for resolve + bucketing:
   that is the a22 path, 2 jobs end-to-end where round 5 took six).

No full-data shuffle anywhere: every pass is a column-pruned scan with
a model-sized (``<= num_bins``-row) map-side-combined aggregate, and
the one window sort touches only hit-bin rows. Bin membership is
re-derived from the SAME literal expressions across jobs, so rows land
in the same bin in every job and rank arithmetic over bins is exact.

NaN note: like the SQL aggregates this excludes NULLs; NaN values (which
Spark orders above all reals but DuckDB's quantile_cont propagates) are
out of contract — the repo's numeric columns are NaN-free by schema.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__oq_pid"
_LR = "__oq_lr"
_IID = "__oq_iid"
_K0 = "__oq_k0"

# Tiered input dispatch (round 8, extending the round-7 byte-estimate
# gate). COMPACT inputs take the one-task Arrow fast path — a single
# local sort answers every order statistic in ONE stage, where the
# distributed histogram pipeline pays 5+ stage launches for the same
# answer. The estimate (optimizedPlan().stats().sizeInBytes()) derives
# from COMPRESSED on-disk bytes scaled by the projection's
# column-width ratio — which makes it a POOR proxy for row count: a
# well-compressed single double column passes a 16 MB gate with 15M
# rows (measured 0.26 B/row on sorted-ish prices), and the one-task
# path's cost is linear in rows (single-core parquet decode + sort
# measured 14 s on 15M rows where the distributed path took 5.7 s and
# DuckDB 1.5 s). So the gate is CONFIRMED by an exact row count
# before the one-task path is taken. Bare-parquet-scan inputs answer
# it from file footers driver-side (tables.metadata_row_count — the
# metadata-only count a columnar engine does, ~ms, no job); anything
# else pays a plain parallel count() — measured 0.17 s flat from 15k
# to 15M rows here, strictly cheaper than a limit(N).count() probe
# whose incremental scale-up shuffles each round to one partition
# (0.27-0.62 s, worst exactly when the input is small). The confirm
# only runs when the gate already passed, so large inputs never pay
# it. Anything estimate-opaque (Long.MaxValue sentinel, ADVICE r7)
# falls back to the split-count test for the gate, then the same
# row confirm.
#
# MEDIUM inputs (estimate <= _MEDIUM_EST_BYTES but too many rows for
# one task) are fanned out across cores and LAZILY checkpointed once:
# the quantile pipeline makes 2-3 passes (exp-histogram, boundary,
# caller bucketing), and at this size one materialization pass +
# memory-local re-reads beat re-scanning a poorly-split compressed
# file every pass (a 600 MB single zstd file splits 5 ways; the
# re-scan discipline leaves 27 of 32 cores idle 3x over). LARGE
# inputs (any real cluster-scale table) keep the rescan discipline:
# scans are cheap at scale, pushdown prunes to one column, and
# materializing a 100 TB table's column is exactly the buffer this
# operator exists to avoid.
_SMALL_EST_BYTES = 16 << 20
_SMALL_NPARTS = 2
_SMALL_MAX_ROWS = 2_000_000
_MEDIUM_EST_BYTES = 1 << 30


def _plan_size_est(vals: DataFrame) -> int | None:
    try:
        est = int(vals._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    # stats-less plans (LogicalRDD/createDataFrame) report the
    # defaultSizeInBytes sentinel (Long.MaxValue), not a real size —
    # treat as unknown (ADVICE r7; mirrors dedup._hot_set_broadcastable)
    return None if est >= (1 << 60) else est


def _compact_input(vals: DataFrame) -> bool:
    """True when ``vals`` is small enough for the one-task fast path:
    byte-estimate (or split-count) gate, confirmed by an exact
    count — see the tier note above."""
    est = _plan_size_est(vals)
    if est is not None:
        gate = est <= _SMALL_EST_BYTES
    else:
        gate = vals.rdd.getNumPartitions() <= _SMALL_NPARTS
    if not gate:
        return False
    from kompactor_spark.tables import metadata_row_count

    # bare-parquet-scan inputs answer the confirm from file footers
    # (driver-side ~ms, no job); anything else pays the real count
    n = metadata_row_count(vals)
    if n is None:
        n = vals.count()
    return n <= _SMALL_MAX_ROWS


def _medium_stage(vals: DataFrame) -> DataFrame:
    """Medium-tier materialization: fan_out + lazy localCheckpoint (one
    materialization into block storage, memory-local re-reads). It beat
    re-scanning the source on every pass in every A/B round, e.g.
    6.15 s vs 8.33 s at sf10 (SCALE.md §7d addendum)."""
    from kompactor_spark.tables import fan_out

    return fan_out(vals).localCheckpoint(eager=False)


def _stage_input(vals: DataFrame) -> tuple[str, DataFrame]:
    """(tier, vals) for the multi-pass quantile pipeline: ``compact``
    (one-task kernel), ``medium`` (vals replaced by a fanned-out lazy
    checkpoint — one materialization, memory-local re-reads), or
    ``large`` (unchanged — rescan discipline).

    Round 9: when the compact byte gate passes but the row count needs
    a job to confirm (any non-bare scan — e.g. a NULL filter hides the
    footer counts), the confirm count runs ON the medium staging frame,
    so rejecting the compact tier MATERIALIZES the medium checkpoint in
    the same pass instead of paying a full scan just to throw its
    answer away (a22's sf10 dispatch was 3-7 s of wasted count before
    any real work — the decomposition in SCALE.md §7d). A small count
    serves the compact kernel from the checkpoint — decoded once
    either way.
    """
    est = _plan_size_est(vals)
    if est is None:
        # stats-less plans (LogicalRDD): split-count gate + real count,
        # the pre-round-9 behavior (rare — only non-scan inputs)
        if vals.rdd.getNumPartitions() <= _SMALL_NPARTS and vals.count() <= _SMALL_MAX_ROWS:
            return "compact", vals
        return "large", vals
    if est > _MEDIUM_EST_BYTES:
        return "large", vals
    if est <= _SMALL_EST_BYTES:
        from kompactor_spark.tables import metadata_row_count

        n = metadata_row_count(vals)
        if n is not None and n <= _SMALL_MAX_ROWS:
            return "compact", vals  # footer-confirmed: no job at all
        if n is None:
            staged = _medium_stage(vals)
            n = staged.count()  # confirm count == the materialization pass
            return ("compact" if n <= _SMALL_MAX_ROWS else "medium"), staged
        # footer-known and too many rows: fall through to medium
    return "medium", _medium_stage(vals)


def _np_cuts(v, probs: list[float]) -> list[float]:
    """Interpolated cuts from a SORTED numpy float64 array — the exact
    Spark ``percentile`` formula via :func:`_interpolate`, shared by
    every one-task fast-path kernel so all paths stay bit-identical."""
    n = len(v)
    if n == 0:
        return [float("nan") for _ in probs]
    positions = [(n - 1) * q for q in probs]
    by_rank: dict[int, float] = {}
    for pos in positions:
        for r in (int(math.floor(pos)) + 1, int(math.ceil(pos)) + 1):
            by_rank[r] = float(v[r - 1])
    return _interpolate(positions, by_rank)


def _local_cuts_plan(vals: DataFrame, col: str, probs: list[float]) -> DataFrame:
    """One-task Arrow fast path: a LAZY one-row frame with the exact
    interpolated cuts, computed by a single local sort inside one
    ``mapInPandas`` task. Used only when :func:`_compact_input` accepts
    the scan, where this is one stage versus the distributed pipeline's
    five-plus. numpy float64 sort is exact and the interpolation reuses
    :func:`_interpolate`, so the cuts are bit-identical to the
    distributed path and to Spark's ``percentile``.
    """
    import pandas as pd

    def compute(batches):
        import numpy as np

        chunks = [b[col].to_numpy(dtype="float64") for b in batches]
        v = np.concatenate(chunks) if chunks else np.empty(0)
        v.sort(kind="stable")
        yield pd.DataFrame({"cuts": [_np_cuts(v, probs)]})

    return vals.coalesce(1).mapInPandas(compute, "cuts array<double>")


class _Interval:
    """A value-contiguous run of rows known to hold some wanted ranks.

    ``member`` is the exact Column predicate selecting the run's rows
    (a conjunction of bin-membership equalities — recomputed identically
    in every job); ``base`` is the count of rows strictly below the run
    in the global order; ``ranks`` the wanted global ranks inside it.
    """

    __slots__ = ("member", "lo", "hi", "count", "base", "ranks")

    def __init__(self, member, lo, hi, count, base, ranks):
        self.member = member
        self.lo = lo
        self.hi = hi
        self.count = count
        self.base = base
        self.ranks = ranks


def _bin_expr(col: str, lo: float, scale: float, num_bins: int) -> Column:
    # floor of a monotone affine map, clamped — value-monotonic, so bin
    # b's rows sort entirely between bins b-1 and b+1. Clamp stays in
    # the LONG domain: floor() saturates on out-of-interval extremes
    # (the when()-guard evaluates this for every row), whereas an int
    # cast would throw under ANSI mode.
    raw = F.floor((F.col(col) - F.lit(lo)) * F.lit(scale))
    return F.least(F.greatest(raw, F.lit(0).cast("long")), F.lit(num_bins - 1).cast("long"))


_EXP_FINENESS = 64  # sub-buckets per value octave: ratio 2^(1/64)≈1.1%


def _exp_key(col: str) -> Column:
    """Scale-free monotone(ish) quantizer: signed fractional-exponent
    bucket ``floor(log2(1 + |v|) * FINENESS)``.

    <= ~131k possible buckets over the entire double range (in practice
    ~64 per value octave the data spans) with no prior min/max pass.
    FINENESS=64 keeps each bucket's value spread ~1.1%, so on any
    smooth distribution the hit buckets handed to the final sort are
    small. Java's Math.log is semi-monotonic and multiplication by a
    positive constant is IEEE-monotone, so this is monotone in
    practice — but correctness does NOT depend on it: the driver
    verifies bucket-range contiguity and merges overlapping neighbors.
    """
    v = F.col(col)
    k = F.lit(float(_EXP_FINENESS))
    pos = F.floor(F.log2(v + F.lit(1.0)) * k)
    neg = F.lit(-1).cast("long") - F.floor(F.log2(F.lit(1.0) - v) * k)
    return F.when(v >= 0, pos).otherwise(neg)


def _exp_histogram(
    vals: DataFrame, col: str
) -> tuple[int, list[tuple[list[int], int, float, float]]]:
    """One job: exponent-bucket histogram with per-bucket (count, min,
    max). Returns (n, ordered contiguous buckets as
    (quantizer_keys, count, min, max))."""
    rows = (
        vals.groupBy(_exp_key(col).alias("__k"))
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(col).alias("__mn"),
            F.max(col).alias("__mx"),
        )
        .collect()  # <= ~131k possible keys (~64/octave spanned) — model state
    )
    buckets = sorted(
        ([int(r["__k"])], int(r["__c"]), float(r["__mn"]), float(r["__mx"]))
        for r in rows
    )
    # Contiguity sweep: merge neighbors whose value ranges overlap (can
    # only happen if log2 ever breaks monotonicity by an ulp) so rank
    # arithmetic over the bucket sequence is unconditionally exact.
    merged: list[tuple[list[int], int, float, float]] = []
    for b in buckets:
        if merged and b[2] < merged[-1][3]:
            keys, c, mn, mx = merged.pop()
            b = (keys + b[0], c + b[1], min(mn, b[2]), max(mx, b[3]))
        merged.append(b)
    return sum(c for _, c, _, _ in merged), merged


def _locate(
    col: str,
    merged: list[tuple[list[int], int, float, float]],
    wanted: list[int],
) -> tuple[list[_Interval], dict[int, float]]:
    """Map wanted global ranks onto histogram buckets: tie-collapsed
    buckets resolve immediately; the rest become intervals to refine."""
    resolved: dict[int, float] = {}
    intervals: list[_Interval] = []
    base = 0
    for keys, c, mn, mx in merged:
        hit = [k for k in wanted if base < k <= base + c]
        if hit:
            if mn == mx:
                for k in hit:
                    resolved[k] = mn
            else:
                # Members reference the ONE materialized _K0 column (see
                # _with_key), never re-evaluate the log quantizer — an
                # 18-arm iid when-chain would otherwise compute log2
                # 18x per row in the refine/boundary jobs.
                member = (
                    (F.col(_K0) == keys[0])
                    if len(keys) == 1
                    else F.col(_K0).isin(keys)
                )
                intervals.append(_Interval(member, mn, mx, c, base, hit))
        base += c
    return intervals, resolved


def _with_key(vals: DataFrame, col: str) -> DataFrame:
    """vals + the materialized quantizer key column (one log per row)."""
    return vals.withColumn(_K0, _exp_key(col))


def _refine_intervals(
    vals: DataFrame,
    col: str,
    intervals: list[_Interval],
    resolved: dict[int, float],
    num_bins: int,
    task_cap: int,
    max_levels: int,
) -> list[_Interval]:
    """Equal-width bin refinement until every interval fits one task.
    Driver state is O(num_bins * len(wanted)) per level — model-sized.
    Mutates ``resolved`` with tie-collapsed ranks; returns the
    intervals still needing a sort."""
    for _level in range(max_levels):
        ready: list[_Interval] = []
        oversized: list[_Interval] = []
        for iv in intervals:
            if iv.lo == iv.hi:  # all rows tie — the statistic IS the value
                for r in iv.ranks:
                    resolved[r] = iv.lo
            elif iv.count <= task_cap or not math.isfinite(num_bins / (iv.hi - iv.lo)):
                ready.append(iv)  # denormal span: sub-binning is numerically moot
            else:
                oversized.append(iv)
        intervals = ready
        if not oversized:
            break
        # One job: histogram every oversized interval's rows into
        # equal-width sub-bins (per-interval scale), with per-bin
        # (count, min, max). when()-chain is fine: <= 2*len(probs) arms.
        iid_expr = F.lit(None).cast("int")
        sb_expr = F.lit(None).cast("int")
        for i, iv in reversed(list(enumerate(oversized))):
            scale = num_bins / (iv.hi - iv.lo)
            iid_expr = F.when(iv.member, F.lit(i)).otherwise(iid_expr)
            sb_expr = F.when(iv.member, _bin_expr(col, iv.lo, scale, num_bins)).otherwise(sb_expr)
        hist = (
            _with_key(vals, col)
            .select(iid_expr.alias(_IID), sb_expr.alias("__sb"), col)
            .where(F.col(_IID).isNotNull())
            .groupBy(_IID, "__sb")
            .agg(
                F.count(F.lit(1)).alias("__c"),
                F.min(col).alias("__mn"),
                F.max(col).alias("__mx"),
            )
            .collect()  # <= len(oversized) * num_bins rows — model state
        )
        per_iv: dict[int, list] = {}
        for r in hist:
            per_iv.setdefault(int(r[_IID]), []).append(r)
        for i, iv in enumerate(oversized):
            scale = num_bins / (iv.hi - iv.lo)
            base = iv.base
            for r in sorted(per_iv.get(i, []), key=lambda r: int(r["__sb"])):
                c = int(r["__c"])
                hit = [k for k in iv.ranks if base < k <= base + c]
                if hit:
                    member = iv.member & (
                        _bin_expr(col, iv.lo, scale, num_bins) == F.lit(int(r["__sb"]))
                    )
                    intervals.append(
                        _Interval(member, float(r["__mn"]), float(r["__mx"]), c, base, hit)
                    )
                base += c
    # max_levels exhausted with oversized intervals left: resolve them
    # anyway (single-task sorts above task_cap — degraded, not wrong).
    # Unreachable at the defaults below ~10^13 rows.
    return intervals


def _boundary_plan(vals: DataFrame, col: str, intervals: list[_Interval]) -> DataFrame:
    """LAZY boundary frame: sorts ONLY the hit bins (each its own
    <= task_cap task) and keeps the <= 2 * len(probs) rows holding a
    wanted order statistic. Columns: (_IID, _LR, col)."""
    iid_expr = F.lit(None).cast("int")
    for i, iv in reversed(list(enumerate(intervals))):
        iid_expr = F.when(iv.member, F.lit(i)).otherwise(iid_expr)
    pred = None
    for i, iv in enumerate(intervals):
        term = (F.col(_IID) == i) & F.col(_LR).isin([k - iv.base for k in iv.ranks])
        pred = term if pred is None else (pred | term)
    w = Window.partitionBy(_IID).orderBy(col)
    return (
        _with_key(vals, col)
        .select(iid_expr.alias(_IID), col)
        .where(F.col(_IID).isNotNull())
        .withColumn(_LR, F.row_number().over(w))
        .where(pred)
    )


def _resolve_eager(
    vals: DataFrame,
    col: str,
    intervals: list[_Interval],
    resolved: dict[int, float],
) -> dict[int, float]:
    """One job: collect the boundary rows and fill ``resolved``."""
    if intervals:
        boundary = _boundary_plan(vals, col, intervals).collect()
        by_local = {(int(r[_IID]), int(r[_LR])): float(r[col]) for r in boundary}
        for i, iv in enumerate(intervals):
            for k in iv.ranks:
                resolved[k] = by_local[(i, k - iv.base)]
    return resolved


def _interpolate(positions: list[float], by_rank: dict[int, float]) -> list[float]:
    cuts = []
    for pos in positions:
        lo, hi = int(math.floor(pos)), int(math.ceil(pos))
        v_lo = by_rank[lo + 1]
        # Spark Percentile.getPercentile's EXACT double expression:
        # (higher - position) * lowerValue + (position - lower) *
        # higherValue — the symmetric form, NOT lo + frac*(hi-lo),
        # which differs by an ulp on some inputs (caught by the grouped
        # parity test).
        cuts.append(v_lo if hi == lo else (hi - pos) * v_lo + (pos - lo) * by_rank[hi + 1])
    return cuts


def exact_quantiles(
    df: DataFrame,
    col: str,
    probs: list[float],
    num_bins: int = 4096,
    task_cap: int = 1 << 20,
    max_levels: int = 6,
) -> tuple[list[float], DataFrame]:
    """Exact interpolated quantiles of ``df[col]`` (NULLs excluded, like
    the SQL aggregates). Returns ``(cuts, vals)`` where ``cuts[i]``
    equals ``percentile(col, probs[i])`` bit-for-bit and ``vals`` is the
    NULL-filtered single-column frame (lazy; on the medium tier it is
    the fanned-out checkpoint, so callers bucketing against the cuts
    read the one materialization — large inputs keep the re-scan
    discipline, which costs less than materializing a cluster-scale
    column). Two jobs end-to-end in the common case (exp-histogram +
    targeted sort); ONE stage on compact (:func:`_stage_input`) inputs
    via the local fast path.
    """
    vals = df.where(F.col(col).isNotNull()).select(col)
    tier, vals = _stage_input(vals)
    if tier == "compact":
        row = _local_cuts_plan(vals, col, probs).collect()[0]
        # Arrow round-trips NaN array cells as None
        return [float("nan") if c is None else float(c) for c in row["cuts"]], vals
    n, merged = _exp_histogram(vals, col)
    if n == 0:
        return [float("nan") for _ in probs], vals

    positions = [(n - 1) * q for q in probs]
    wanted = sorted(
        {int(math.floor(p)) + 1 for p in positions}
        | {int(math.ceil(p)) + 1 for p in positions}
    )
    intervals, resolved = _locate(col, merged, wanted)
    intervals = _refine_intervals(
        vals, col, intervals, resolved, num_bins, task_cap, max_levels
    )
    by_rank = _resolve_eager(vals, col, intervals, resolved)
    return _interpolate(positions, by_rank), vals


def exact_quantile_cuts(
    df: DataFrame,
    col: str,
    probs: list[float],
    num_bins: int = 4096,
    task_cap: int = 1 << 20,
    max_levels: int = 6,
    _pre_staged: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """IN-PLAN twin of :func:`exact_quantiles`: returns
    ``(cuts_df, vals)`` where ``cuts_df`` is a LAZY one-row frame with
    an ``array<double>`` column ``cuts`` (same bit-exact values). The
    boundary sort and the symmetric interpolation stay inside the plan,
    so a caller that buckets rows against the cuts (equi-depth
    histograms, winsorization, band filters) pays a single action for
    resolve + bucketing: ``rows.crossJoin(F.broadcast(cuts_df))``.
    Only the model-sized exp-histogram (and any refinement level) runs
    eagerly — 1 job before the caller's own action in the common case.
    """
    spark = df.sparkSession
    vals = df.where(F.col(col).isNotNull()).select(col)
    if _pre_staged:
        tier = "large"  # caller already staged/tiered this frame
    else:
        tier, vals = _stage_input(vals)
    if tier == "compact":
        # Lazy cuts: the caller's single action runs the local sort as
        # a broadcast subtree (the only prior job is the dispatch's
        # row-confirm count inside _stage_input).
        return _local_cuts_plan(vals, col, probs), vals
    n, merged = _exp_histogram(vals, col)
    if n == 0:
        nan_arr = F.array(*[F.lit(float("nan")) for _ in probs]).alias("cuts")
        return spark.range(1).select(nan_arr), vals

    positions = [(n - 1) * q for q in probs]
    wanted = sorted(
        {int(math.floor(p)) + 1 for p in positions}
        | {int(math.ceil(p)) + 1 for p in positions}
    )
    intervals, resolved = _locate(col, merged, wanted)
    intervals = _refine_intervals(
        vals, col, intervals, resolved, num_bins, task_cap, max_levels
    )
    target: dict[int, tuple[int, int]] = {}
    for i, iv in enumerate(intervals):
        for k in iv.ranks:
            target[k] = (i, k - iv.base)

    def value_at(rank: int) -> Column:
        if rank in resolved:
            return F.lit(resolved[rank])
        i, lr = target[rank]
        return F.max(F.when((F.col(_IID) == i) & (F.col(_LR) == lr), F.col(col)))

    cut_exprs = []
    for pos in positions:
        lo, hi = int(math.floor(pos)), int(math.ceil(pos))
        if hi == lo:
            cut_exprs.append(value_at(lo + 1))
        else:
            # Spark's symmetric interpolation with the coefficients
            # pre-computed driver-side — bit-identical to _interpolate.
            cut_exprs.append(
                F.lit(hi - pos) * value_at(lo + 1) + F.lit(pos - lo) * value_at(hi + 1)
            )
    arr = F.array(*cut_exprs).alias("cuts")
    if not intervals:  # every rank tie-resolved: cuts are pure literals
        return spark.range(1).select(arr), vals
    return _boundary_plan(vals, col, intervals).agg(arr), vals


def grouped_exact_quantiles(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    probs: dict[str, float],
    num_partitions: int | None = None,
    count_col: str | None = "n",
    max_groups: int | None = 100_000,
) -> DataFrame:
    """Per-group exact interpolated quantiles for a BOUNDED group count
    over unbounded rows — the grouped twin of :func:`exact_quantiles`.

    ``GROUP BY k, percentile(v, ...)`` puts each group's full
    distinct-value map in one reducer buffer: with ~100 groups over
    100 TB that is billions of values per task. This shape instead
    range-partitions on ``(group_cols..., col)`` (each group spans a
    contiguous partition run; per-task memory is one partition), takes
    per-(partition, group) counts, and sorts only the partitions that
    hold a requested order statistic. All driver state is
    ``O(groups * partitions + groups * len(probs))`` — model-sized
    IF the group count is bounded (dashboard cells, sources, types...).
    For unbounded group counts this operator is the WRONG tool — keep
    the grouped aggregate and bound the group size instead. That
    assumption is ENFORCED (VERDICT r7 #7, same loud-failure class as
    the dedup pair guard): the group count is measured BEFORE any
    driver collect and a ValueError raised above ``max_groups``
    (default 100k ≈ the quantile-histogram key bound), so a mis-tuned
    caller fails fast instead of OOMing the driver at scale. Pass
    ``max_groups=None`` to disable (caller asserts boundedness).

    NULL semantics match ``GROUP BY g, quantile_cont(v, ...)`` +
    ``COUNT(*)`` exactly (ADVICE r5): the ``count_col`` column counts
    ALL rows of the group (not just non-NULL measures), and a group
    whose measures are entirely NULL still appears — with NULL
    quantiles — instead of vanishing. Quantile positions themselves use
    the non-NULL count, as the SQL aggregates do.

    Returns a small DataFrame ``(group_cols..., [count_col,] *probs
    keys)`` with RAW double quantiles (callers apply their own
    ``F.round`` so display rounding happens JVM-side, preserving the
    proven round/quantile_cont bit parity) — built via
    ``createDataFrame`` from driver-side model state, never a
    data-plane collect.
    """
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    spark = df.sparkSession
    # Per-group COUNT(*) — from the UNFILTERED frame, so all-NULL groups
    # survive and the reported n matches the oracle's COUNT(*). The agg
    # is checkpointed so the guard's count() and the collect share one
    # aggregation pass (the _guard_pairs pattern).
    totals_df = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("__c"))
    if max_groups is not None:
        totals_df = totals_df.localCheckpoint(eager=False)
        n_groups = totals_df.count()
        if n_groups > max_groups:
            raise ValueError(
                f"group count {n_groups} exceeds max_groups={max_groups}; "
                "grouped_exact_quantiles keeps O(groups * partitions) driver "
                "state — for unbounded group counts use a grouped percentile "
                "aggregate (and bound the group SIZE) instead, or raise the "
                "ceiling if the count is genuinely model-sized"
            )
    totals_rows = totals_df.collect()
    group_total: dict[tuple, int] = {
        tuple(r[g] for g in group_cols): int(r["__c"]) for r in totals_rows
    }
    vals = df.where(F.col(col).isNotNull()).select(*group_cols, col)
    ranged = vals.repartitionByRange(
        num_partitions, *[F.col(g) for g in group_cols], F.col(col)
    ).localCheckpoint(eager=False)

    # Pass 1 (tiny): (partition, group) counts. Row count is bounded by
    # num_partitions + groups (contiguous group runs share boundaries).
    counts_rows = (
        ranged.groupBy(F.spark_partition_id().alias(_PID), *group_cols)
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    )
    per_group: dict[tuple, list[tuple[int, int]]] = {}
    for r in counts_rows:
        key = tuple(r[g] for g in group_cols)
        per_group.setdefault(key, []).append((int(r[_PID]), int(r["__c"])))

    prob_items = list(probs.items())
    # (group, global_rank) -> (pid, local_rank_within_group_in_partition)
    targets: dict[tuple, tuple[int, int]] = {}
    group_positions: dict[tuple, list[float]] = {}
    for key, pid_counts in per_group.items():
        pid_counts.sort()
        n = sum(c for _, c in pid_counts)
        positions = [(n - 1) * q for _, q in prob_items]
        group_positions[key] = positions
        wanted: set[int] = set()
        for pos in positions:
            wanted.add(int(math.floor(pos)) + 1)
            wanted.add(int(math.ceil(pos)) + 1)
        base = 0
        for pid, c in pid_counts:
            for rank in wanted:
                if base < rank <= base + c:
                    targets[key + (rank,)] = (pid, rank - base)
            base += c

    # Pass 2 (targeted): broadcast-join the target list instead of a
    # giant OR predicate (groups * probs * 2 terms would blow up the
    # expression tree); sort only the hit partitions.
    hit_pids = sorted({pid for pid, _ in targets.values()})
    tgt_rows = [
        (*key[:-1], int(key[-1]), pid, lr) for key, (pid, lr) in targets.items()
    ]
    tgt_schema = (
        vals.select(*group_cols)
        .schema.add("__gq_rank", "long")
        .add(_PID, "integer")
        .add(_LR, "integer")
    )
    tgt = spark.createDataFrame(tgt_rows, tgt_schema)
    w = Window.partitionBy(_PID, *group_cols).orderBy(col)
    ranked = (
        ranged.withColumn(_PID, F.spark_partition_id())
        .where(F.col(_PID).isin(hit_pids))
        .withColumn(_LR, F.row_number().over(w))
    )
    # eqNullSafe on the group keys: NULL is a legal SQL group (GROUP BY
    # keeps it) — a plain equality join would silently drop it.
    cond = (ranked[_PID] == tgt[_PID]) & (ranked[_LR] == tgt[_LR])
    for g in group_cols:
        cond = cond & ranked[g].eqNullSafe(tgt[g])
    boundary = (
        ranked.join(F.broadcast(tgt), cond)
        .select(*[ranked[g] for g in group_cols], "__gq_rank", ranked[col])
        .collect()  # <= 2 * len(probs) * groups rows — model state
    )
    by_rank = {
        (tuple(r[g] for g in group_cols), int(r["__gq_rank"])): float(r[col])
        for r in boundary
    }

    out_rows = []
    for key, total in sorted(group_total.items(), key=lambda kv: str(kv[0])):
        positions = group_positions.get(key)
        if positions is None:  # group exists but every measure is NULL
            cuts: list[float | None] = [None] * len(prob_items)
        else:
            cuts = []
            for pos in positions:
                lo, hi = int(math.floor(pos)), int(math.ceil(pos))
                v_lo = by_rank[(key, lo + 1)]
                # Spark's symmetric interpolation — see exact_quantiles.
                cuts.append(
                    v_lo
                    if hi == lo
                    else (hi - pos) * v_lo + (pos - lo) * by_rank[(key, hi + 1)]
                )
        row = list(key) + ([total] if count_col else []) + cuts
        out_rows.append(tuple(row))
    schema = vals.select(*group_cols).schema
    if count_col:
        schema = schema.add(count_col, "long", False)
    for name, _ in prob_items:
        schema = schema.add(name, "double")
    return spark.createDataFrame(out_rows, schema)


def _equi_depth_one_task(
    vals: DataFrame,
    col: str,
    probs: list[float],
    scale: int,
    weight_col: str | None = None,
) -> DataFrame:
    """The fused equi-depth kernel as ONE Arrow task: sort + exact
    interpolated cuts + searchsorted bucketing + exact unit totals.
    With ``weight_col`` the input is a collapsed (value, row-count)
    frame and every statistic is computed rank-weighted — bit-identical
    to the row-wise kernel because value-at-rank, bucket membership,
    min/max, and unit totals are all functions of (distinct value,
    multiplicity) alone. Unweighted inputs are the weights==1 special
    case of the same code path."""
    import pandas as pd

    out_schema = "bucket long, n long, lo double, hi double, total double"

    def compute(batches):
        import numpy as np
        from decimal import Decimal

        vparts, wparts = [], []
        for b in batches:
            vparts.append(b[col].to_numpy(dtype="float64"))
            if weight_col is not None:
                wparts.append(b[weight_col].to_numpy(dtype="int64"))
        v = np.concatenate(vparts) if vparts else np.empty(0)
        if weight_col is not None:
            w = np.concatenate(wparts) if wparts else np.empty(0, dtype="int64")
            order = np.argsort(v, kind="stable")
            v, w = v[order], w[order]
        else:
            v.sort(kind="stable")
            w = np.ones(len(v), dtype="int64")
        if len(v) == 0:
            yield pd.DataFrame(
                {
                    "bucket": pd.Series([], dtype="int64"),
                    "n": pd.Series([], dtype="int64"),
                    "lo": pd.Series([], dtype="float64"),
                    "hi": pd.Series([], dtype="float64"),
                    "total": pd.Series([], dtype="float64"),
                }
            )
            return
        wcum = np.cumsum(w)  # inclusive row-count prefix per distinct run
        n = int(wcum[-1])
        # value at 1-based rank r = first cell whose inclusive
        # cumulative count >= r (the a9c collapse identity); with unit
        # weights this is exactly v[r-1], so both paths share
        # _interpolate and stay bit-identical to Spark `percentile`.
        positions = [(n - 1) * q for q in probs]
        by_rank: dict[int, float] = {}
        for pos in positions:
            for r in (int(math.floor(pos)) + 1, int(math.ceil(pos)) + 1):
                by_rank[r] = float(v[int(np.searchsorted(wcum, r, side="left"))])
        cuts = np.asarray(_interpolate(positions, by_rank), dtype="float64")
        # bucket of p = 1 + #{c : c < p}; v sorted => buckets are the
        # contiguous runs between successive cut positions (empty run
        # at a tied cut <=> that bucket has no rows)
        splits = np.searchsorted(v, cuts, side="right")
        bounds = np.concatenate(([0], splits, [len(v)]))
        # half-AWAY-FROM-ZERO (trunc after shifting a half toward
        # the value's sign), matching F.round in the distributed
        # path's fixedpoint.to_units (np.rint is half-to-even: the
        # two diverge on exact .5 fractions of the scaled value,
        # i.e. inputs with more fractional digits than `scale`,
        # outside to_units's contract — and the path taken depends
        # only on the size estimate; ADVICE r7). Residual
        # divergence is confined to values whose shortest decimal
        # repr rounds differently from their binary expansion
        # (e.g. 0.49999999999999994) — unreachable for fixed-point
        # money inputs.
        scaled = v * 10**scale
        units = np.trunc(scaled + np.copysign(0.5, scaled)).astype("int64")
        # weighted unit totals in arbitrary-precision ints: the
        # unweighted path's int64-cumsum bound argument doesn't extend
        # to units*count products, so sum exactly in Python-int space
        # (collapsed frames are <= _SMALL_MAX_ROWS cells — cheap)
        wunits = units.astype(object) * w.astype(object)
        ucum = np.concatenate(([0], np.cumsum(wunits)))
        ncum = np.concatenate(([0], wcum))
        div = Decimal(10) ** scale
        rows = []
        for k in range(len(bounds) - 1):
            s, e = int(bounds[k]), int(bounds[k + 1])
            if e <= s:
                continue
            total = float(Decimal(int(ucum[e] - ucum[s])) / div)
            rows.append(
                (k + 1, int(ncum[e] - ncum[s]), float(v[s]), float(v[e - 1]), total)
            )
        yield pd.DataFrame(rows, columns=["bucket", "n", "lo", "hi", "total"])

    return vals.coalesce(1).mapInPandas(compute, out_schema)


def equi_depth_histogram(
    df: DataFrame,
    col: str,
    probs: list[float],
    scale: int = 2,
) -> DataFrame:
    """Equi-depth histogram of ``df[col]`` (the a22 shape): cut points
    are the exact interpolated quantiles at ``probs``; bucket membership
    is ``1 + count(cuts strictly below the value)`` (deterministic in
    both engines even at tied cut values); per bucket: count, min, max
    and the exact ``DECIMAL(18, scale)`` total presented as double.
    Output columns ``(bucket, n, lo, hi, total)``, unordered — callers
    add their own ``orderBy``. Buckets left empty by tied cuts emit no
    row (GROUP BY semantics).

    Three tiers behind one dispatch (:func:`_stage_input` — byte gate +
    row confirm; medium inputs additionally get one fan-out
    checkpoint shared by every pass):

    - COMPACT inputs run the ENTIRE histogram — sort, cuts,
      searchsorted bucketing, per-bucket reduction — inside a single
      Arrow task: one kernel job (plus the dispatch's row-confirm
      count) versus cuts-job + bucketing-job for the composed plan
      (round 7; a22 at sf1 was floor-dominated at
      2 jobs x the ~0.5-0.9 s VM stage floor, VERDICT r6 #4). Exactness:
      the sorted-array cuts reuse :func:`_np_cuts` (bit-identical to
      Spark's ``percentile``), and the bucket total accumulates integer
      units (``round(v * 10^scale)``, the fixedpoint.to_units contract)
      in int64 and divides once in python-decimal space — the same
      correctly-rounded DECIMAL -> DOUBLE the distributed limb sum
      produces. int64 accumulation is exact while ``sum |units|`` stays
      below 2^63 — guaranteed by the compact gate for fixed-point money
      (the distributed path's limb discipline covers every other case).
    - everything else composes :func:`exact_quantile_cuts` (model-sized
      driver state, no full-data shuffle) with a broadcast of the
      one-row cuts frame into a single bucketing scan whose totals ride
      the limb-split long fast path: 2 jobs, arbitrarily large inputs.
    """
    vals = df.where(F.col(col).isNotNull()).select(col)
    est = _plan_size_est(vals)
    if est is not None and est <= _MEDIUM_EST_BYTES:
        from kompactor_spark.tables import metadata_row_count

        n = metadata_row_count(vals)
        if n is not None and n <= _SMALL_MAX_ROWS and est <= _SMALL_EST_BYTES:
            # footer-confirmed compact: ONE kernel job, no dispatch job
            return _equi_depth_one_task(vals, col, probs, scale)
        # Collapse-first medium (round 9): every statistic the histogram
        # needs — ranked values, bucket membership, counts, min/max,
        # exact unit totals — is a function of (distinct value, row
        # count), so collapse BEFORE deciding anything. The collapsed
        # frame for real fixed-point columns is tiny (o_totalprice at
        # sf10: 150k cells from 15M rows), turning the whole histogram
        # into one hash shuffle + a one-task weighted kernel — no
        # medium-tier checkpoint materialization, whose block-store
        # write was the ambient-hostage 3-6 s step the r8/r9 A/Bs
        # chased (SCALE.md §7d addendum). High-cardinality collapses
        # (distinct count past the one-task bound) fall back to the
        # staged composed plan below.
        cvals = (
            vals.groupBy(col)
            .agg(F.count(F.lit(1)).alias("__w"))
            .localCheckpoint(eager=False)
        )
        if cvals.count() <= _SMALL_MAX_ROWS:
            return _equi_depth_one_task(cvals, col, probs, scale, weight_col="__w")
        vals = _medium_stage(vals)
    elif est is None:
        tier, vals = _stage_input(vals)
        if tier == "compact":
            return _equi_depth_one_task(vals, col, probs, scale)

    from kompactor_spark.fixedpoint import exact_sum, limb_split, to_units

    # vals is already tiered/staged above — on the medium tier the
    # cuts' exp-histogram/boundary jobs and the bucketing scan below
    # all read the one materialized checkpoint
    cuts_df, ranked = exact_quantile_cuts(vals, col, probs, _pre_staged=True)
    hi_l, lo_l = limb_split(to_units(col, scale))
    return (
        ranked.crossJoin(F.broadcast(cuts_df))
        .select(
            F.col(col),
            (F.lit(1) + F.size(F.filter(F.col("cuts"), lambda c: c < F.col(col))))
            .cast("bigint")
            .alias("bucket"),
            hi_l.alias("__hi"),
            lo_l.alias("__lo"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min(col).alias("lo"),
            F.max(col).alias("hi"),
            exact_sum("__hi", "__lo", scale).cast("double").alias("total"),
        )
    )
