"""Exact fixed-point aggregation on the long fast path.

Why this exists
---------------
The engine's money/quantity columns are doubles whose *true* values are
fixed-point (2 fractional digits in the testdata; the reference stores
metric values the same way — kompactor.ts keeps raw numerics and
delegates exact math to its query engine).  The determinism contract
(SURVEY.md §2.B F-rows) sums them as DECIMAL so Spark and the DuckDB
oracle agree bit-for-bit.  But Spark's decimal SUM keeps a buffer of
precision ``input+10``; anything wider than DECIMAL(18) leaves the
compact-long representation and aggregates through JVM ``BigDecimal``
objects — measured ~40x slower than a long sum at sf1 (a1_groupby_q1:
2.07 s -> 0.05 s for the agg-dominated portion).

The fix: represent each value as an exact integer count of 10^-scale
units (a long), SUM longs inside whole-stage codegen, and rebuild the
exact decimal once per *group* instead of once per *row*.

Overflow discipline (the 100 TB part)
-------------------------------------
A single long sum of e6-scaled money (~1e11 units/row) overflows at
~9e7 rows per aggregation buffer — unacceptable at scale.  So the sum
is split into two "limbs" before aggregation:

    hi = units >> LIMB_BITS        (arithmetic shift: exact floor-div,
    lo = units & (LIMB - 1)         correct for negatives too)

``units == hi * LIMB + lo`` exactly, ``lo in [0, LIMB)``.  Each limb is
summed as a plain long (still one codegen pass, two buffer slots), and
the group total is recombined losslessly in DECIMAL(38) space:

    sum = (SUM(hi) * LIMB + SUM(lo)) * 10^-scale

With ``LIMB = 2^20``: SUM(lo) < n * 2^20 -> safe to ~8.8e12 rows/group;
SUM(hi) < n * max_units/2^20 -> ~9e13 rows/group for e6 money.  That is
beyond 100 TB of lineitem (~1e12 rows).  For wider inputs pass more
``limb_bits`` headroom by splitting at a higher bit (bound scales as
2^63 / (max_units / 2^limb_bits)).

Bit-for-bit oracle parity
-------------------------
The recombine path mirrors what ``CAST(SUM(DECIMAL) AS DOUBLE)`` does in
DuckDB: the exact integer total is materialized as DECIMAL(38,0),
divided by the exact power-of-ten scale divisor (Spark decimal division
by 10^scale is exact here — the true value has <= ``scale`` fractional
digits and the result scale is >= ``scale``), and only then cast to
double via BigDecimal.doubleValue (correctly rounded).  Verified
bit-level against the DuckDB oracle by scripts/driver_sim.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

LIMB_BITS = 20
LIMB = 1 << LIMB_BITS


def to_units(col: Column | str, scale: int = 2) -> Column:
    """Exact integer units: ``round(col * 10^scale)`` as long.

    Exact whenever the source double is a true fixed-point value with at
    most ``scale`` fractional digits: the stored double sits within
    ~1e-11 of that value, so ``col * 10^scale`` lands within ~1e-9 of an
    integer and round() recovers it — the same integer
    ``CAST(col AS DECIMAL(p, scale))`` produces.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(10**scale)).cast("long")


def dec(col: Column | str, scale: int = 2, prec: int = 18) -> Column:
    """Money/measure discipline: exact ``decimal(prec, scale)`` before any SUM."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


def limb_split(units: Column, limb_bits: int = LIMB_BITS) -> tuple[Column, Column]:
    """(hi, lo) with ``units == hi*2^limb_bits + lo`` exactly,
    ``0 <= lo < 2^limb_bits``.

    shiftright is an arithmetic shift (floor division by 2^limb_bits,
    exact for negative units as well); bitwiseAND extracts the matching
    non-negative remainder.  Both stay inside whole-stage codegen — no
    SQL-string expressions, no double-precision detours.

    ``limb_bits`` picks the overflow/row-count trade: SUM(hi) is safe to
    ``2^63 / (max|units| / 2^limb_bits)`` rows per group, SUM(lo) to
    ``2^63 / 2^limb_bits`` rows — balance by splitting near half the
    value's bit width (e.g. 29 for second-scale x² moments ≤ 2^57 →
    ~1.8e10 rows/series on both limbs; x26 uses per-moment splits).
    """
    hi = F.shiftright(units, limb_bits)
    lo = units.bitwiseAND(F.lit((1 << limb_bits) - 1))
    return hi, lo


def exact_sum(hi_col: Column | str, lo_col: Column | str, scale: int) -> Column:
    """Aggregate expression: exact decimal SUM from pre-split limb columns.

    Use inside ``.agg(...)`` after projecting ``limb_split`` columns:
    two long SUMs (codegen fast path) recombined as
    ``(SUM(hi)*LIMB + SUM(lo)) / 10^scale`` in DECIMAL(38) space.
    Returns the exact DECIMAL value — chain ``.cast("double")`` (or
    keep decimal) to match the oracle's output type.
    """
    shi = F.sum(hi_col).cast("decimal(38,0)")
    slo = F.sum(lo_col).cast("decimal(38,0)")
    total = shi * F.lit(LIMB).cast("decimal(7,0)") + slo
    return total / F.lit(10**scale).cast("decimal(10,0)")


def exact_sum_units(
    hi_col: Column | str, lo_col: Column | str, limb_bits: int = LIMB_BITS
) -> Column:
    """Aggregate expression: exact INTEGER sum from pre-split limb
    columns, recombined as DECIMAL(38,0) — no division, so downstream
    decimal arithmetic keeps scale 0 and full precision headroom (the
    x26 moment sums multiply two of these; a /10^0 step would widen the
    result scale and truncate near the precision cap).
    """
    shi = F.sum(hi_col).cast("decimal(38,0)")
    slo = F.sum(lo_col).cast("decimal(38,0)")
    return (shi * F.lit(1 << limb_bits).cast("decimal(12,0)") + slo).cast(
        "decimal(38,0)"
    )
