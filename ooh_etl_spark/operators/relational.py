"""Relational operators Spark lacks natively, built as compositions.

The reference implements none of these (SURVEY.md §2 notes "joins: none");
they are part of the §2.B mandated surface. Everything here is a
composition of built-in DataFrame operators so Catalyst/AQE keep full
visibility (join strategy selection, skew splitting, pushdown).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | tuple[str, str],
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
) -> DataFrame:
    """Inner as-of join: for each left row, the single right row with the
    greatest ``right_ts`` <= ``left_ts`` within the same key
    (``direction="backward"``, the default) or the SMALLEST
    ``right_ts`` >= ``left_ts`` (``direction="forward"`` — the
    "next event after" lookup: next maintenance after a failure, next
    price tick after an order). Forward reuses the identical
    union-merge plan with the sort reversed; right rows still sort
    BEFORE left rows in scan order at equal ts (kind 0 under the
    descending-ts order), which is exactly what preserves the
    inclusive ``right_ts >= left_ts`` semantics.

    Implementation: union-merge. Both sides are tagged and unioned,
    shuffled once on the key, sorted by (ts, side) within each key, and
    the latest right payload is carried forward onto each left row by a
    running ``last(ignoreNulls)`` window — the classic merge-join
    formulation of as-of.

    Scale notes (100 TB): the shuffle carries |left| + |right| rows at
    ANY per-key history depth (the join+aggregate alternative shuffles
    or scans |left| x |history| pairs). Skewed keys are the risk: one
    hot key's merged timeline lands in one task — salt by a time bucket
    and as-of join bucket boundaries separately if a key exceeds a
    task's memory. Ties on ``right_ts`` are broken arbitrarily —
    project tie-safe columns.
    """
    import pyspark.sql.types as T

    lk, rk = (on, on) if isinstance(on, str) else on
    l_type = T.StructType(left.schema.fields)
    r_type = T.StructType(right.schema.fields)
    # Union-merge strategy: tag both sides, shuffle ONCE on the key,
    # sort each key by (ts, side) and run a linear `last(right_payload,
    # ignoreNulls)` window. This never materializes the (left row x
    # key history) pair set the join+max_by form produces — the shuffle
    # carries exactly |left| + |right| rows at any history depth, which
    # is the difference between linear and quadratic-in-history cost at
    # 100 TB. Right rows sort BEFORE left rows at equal ts (kind 0 < 1),
    # giving the inclusive `right_ts <= left_ts` semantics.
    l = left.select(
        F.col(lk).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__kind"),
        F.struct(*left.columns).alias("__l"),
        F.lit(None).cast(r_type).alias("__r"),
    )
    r = right.select(
        F.col(rk).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__kind"),
        F.lit(None).cast(l_type).alias("__l"),
        F.struct(*right.columns).alias("__r"),
    )
    if direction == "backward":
        order = [F.col("__ts").asc(), F.col("__kind").asc()]
    elif direction == "forward":
        # descending merge: the running last(right) seen from the top
        # is the nearest right row with right_ts >= left_ts; right
        # still sorts before left at equal ts (kind 0 first under the
        # descending ts, ascending kind order) for inclusivity.
        order = [F.col("__ts").desc(), F.col("__kind").asc()]
    else:
        raise ValueError(
            f"asof_join direction must be 'backward'|'forward', got {direction!r}"
        )
    w = (
        Window.partitionBy("__k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = (
        l.unionByName(r)
        .withColumn("__asof_r", F.last("__r", ignorenulls=True).over(w))
        .filter(F.col("__kind") == 1)
        .filter(F.col("__asof_r").isNotNull())
    )
    out_cols = [F.col(f"__l.{c}").alias(c) for c in left.columns] + [
        F.col(f"__asof_r.{c}").alias(c) for c in right.columns
    ]
    return merged.select(*out_cols)


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key: str,
) -> DataFrame:
    """MERGE emulation (no Delta/Iceberg in this environment): rows in
    ``updates`` replace same-key rows in ``target``; unmatched update
    rows are inserted. Implemented as anti-join + union — one shuffle
    on the key, the same cost profile a MERGE INTO rewrite plans.

    Columns must match. At 100 TB the target side would be partitioned
    storage and the anti-join pruned to touched partitions (dynamic
    partition pruning handles that when the key correlates with the
    partition column).
    """
    untouched = target.join(updates, key, "left_anti")
    return untouched.unionByName(updates.select(*target.columns))


_SALT = 8  # salted_join's fan-out


def salted_join(left: DataFrame, right: DataFrame, key: str) -> DataFrame:
    """Skew-resistant inner equi-join: the left (skewed) side gets a random
    salt in [0, 8); the right side is replicated 8 times with every salt
    value. The hot key's rows then spread across 8 reducers instead of
    one straggler task.

    AQE's skew-join split handles most cases automatically; explicit
    salting remains the tool when a single key exceeds what one task
    can hold even after splitting (the classic power-law key at 100 TB).
    Replication multiplies the right side — use with a dimension-sized
    right input.
    """
    lk = left.withColumn("__salt", (F.rand(seed=42) * _SALT).cast("int"))
    rk = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT)]))
    )
    out = lk.join(rk, [key, "__salt"], "inner")
    return out.drop("__salt")


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
) -> DataFrame:
    """Per-group top-k via ranking window, the rank in ``rn``; the
    canonical scalable pattern (no per-group collect, single shuffle on
    the group key)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
