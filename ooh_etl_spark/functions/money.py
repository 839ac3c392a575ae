"""Exact fixed-point quantisation and money aggregation.

Summing doubles is order-dependent, and a parallel engine sums in
whatever order partitions arrive — so ``round(sum(double), 2)`` can
land on either side of a half-cent boundary depending on the shuffle
(observed as a round-1 q91 hash mismatch at sf0.1). The engine's
policy is therefore: round each ROW to an integer number of fixed-point
units (cents at scale 2, micro-units at scale 6, ...), sum the exact
integers (associative, order-free), divide once at the end. Spark and
the DuckDB oracle apply the identical policy, so the cross-engine hash
is stable under any partitioning.

``quantise`` is the only Column spelling of the per-row step
(``tests/test_repo_hygiene.py`` fails on a hand-written
``F.round(10^k * x).cast("bigint")`` anywhere else in the package).
Its unit is always a double, ``10.0 ** scale``: for a double input that
is the product Spark computes when it widens an int literal anyway, and
for an integral input the product is exact below 2^53 and cannot hit
ANSI ``ARITHMETIC_OVERFLOW`` the way ``int_col * 1000000`` does above
2147. DuckDB twins spell the same rule ``CAST(round(x * 1e6) AS BIGINT)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def quantise(col: Column | str, scale: int) -> Column:
    """``col`` as a bigint count of ``10**-scale`` units: the row value
    times the double unit ``10.0 ** scale``, rounded half away from zero.
    NULL stays NULL."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 10.0**scale).cast("bigint")


def cents_sum(col: Column | str, wide: bool = False) -> Column:
    """Exact fixed-point sum reported as a double with 2 dp: per-row
    round to integer cents, integer sum, one final divide.

    Accumulator headroom (non-ANSI Spark sum wraps SILENTLY on int64
    overflow): the default bigint accumulator is exact to 9.2e18 units
    — at TPC-H-like magnitudes (~5e7 cents/row) that is ~1.8e11 rows
    PER GROUP, comfortably beyond a 100 TB fact table's per-group
    cardinality for grouped aggregates, but approachable for a GLOBAL
    sum at extreme scale. For those, pass ``wide=True``: the
    decimal(38,0) accumulator is equally exact and order-free, carries
    headroom to 10^38, and NULLs loudly on overflow instead of
    wrapping — but decimal precision > 18 leaves Spark's long-backed
    Decimal fast path, measured 2.2x slower on q01's 8-aggregate scan
    at sf0.1, so it is opt-in rather than the default. DuckDB twins
    need no flag: its sum(BIGINT) accumulates in HUGEINT natively."""
    acc = quantise(col, 2)
    if wide:
        acc = acc.cast("decimal(38,0)")
    return F.sum(acc) / 100.0


def cents_avg(
    col: Column | str,
    scale: int = 2,
    out_scale: int | None = None,
    wide: bool = False,
) -> Column:
    """Average built from the exact fixed-point sum: the numerator is an
    integer total (order-free), so the single double division and final
    rounding are deterministic across engines and partitionings.
    ``wide`` selects the decimal(38,0) accumulator (see cents_sum).

    The denominator is ``count(col)`` — non-null rows only — so this is
    the same statistic as SQL ``avg(col)``, which ignores NULLs; a
    ``count(*)`` denominator would silently dilute the average on
    nullable inputs. Oracle twins use ``count(expr)`` identically."""
    c = F.col(col) if isinstance(col, str) else col
    acc = quantise(c, scale)
    if wide:
        acc = acc.cast("decimal(38,0)")
    return F.round(F.sum(acc) / 10.0**scale / F.count(c), out_scale or scale)
