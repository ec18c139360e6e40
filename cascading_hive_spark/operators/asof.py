"""As-of join — a time-series operator the reference lacks entirely
(SURVEY.md §2.C: joins absent; nearest public analogs are the ASOF
JOIN of DuckDB/QuestDB and pandas.merge_asof).

For each left row (key, ts) find the single right row with the
greatest right_ts <= ts (backward), the smallest right_ts >= ts
(forward), or the minimum |right_ts - ts| (nearest) for the same key,
optionally within a ``tolerance``.

Scale design: the naive formulation is a non-equi range join
(quadratic blow-up per key). This implementation is the union+window
pattern:

1. tag right rows, union them with left rows on (key, ts);
2. one shuffle partitions by key and sorts by (ts, tag) — right rows
   sort BEFORE left rows at equal ts for backward (so the match is
   inclusive) and AFTER them for forward;
3. ``last(row_struct, ignorenulls=True)`` (resp. ``first`` over the
   following frame) carries the nearest right ROW forward as one
   struct — the whole matched row travels together, so a matched row
   with NULLs in some payload columns stays intact instead of mixing
   values from different rows, and match detection is the struct's
   own nullity, never payload nullability;
4. keep left rows.

Cost: ONE shuffle of |L|+|R| rows (nearest adds a second window sort
over the same partitioning, not a second shuffle), no row explosion,
no skew amplification beyond what the key distribution already has —
the same plan shape a hand-written MergeJoin-asof would produce, but
expressed declaratively so AQE still handles skewed keys.

Ties: among right rows sharing (key, ts) the carried row is the last
in partition sort order (engine-dependent, as in DuckDB ASOF JOIN);
``nearest`` resolves an exact backward/forward distance tie to the
backward match (pandas.merge_asof picks the same side).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_by: str,
    right_by: str,
    value_cols: list[str],
    how: str = "inner",
    direction: str = "backward",
    tolerance: Column | str | None = None,
) -> DataFrame:
    """As-of join: nearest right row per left row, merge_asof-style.

    ``value_cols`` are the right-side payload columns carried to the
    output. ``how``: "left" keeps unmatched left rows (payload null),
    "inner" drops them. ``direction``: "backward" (right_ts <= ts,
    the default), "forward" (right_ts >= ts), or "nearest".
    ``tolerance`` bounds the allowed |ts - right_ts|: a Column, or a
    SQL expression string (e.g. ``"INTERVAL 30 DAYS"`` for timestamp
    keys, a number for numeric keys) — matches outside it count as no
    match.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction!r}")
    tol = F.expr(tolerance) if isinstance(tolerance, str) else tolerance

    lcols = left.columns
    tagged_left = left.select(
        F.col(left_by).alias("__k"),
        F.col(left_on).alias("__ts"),
        F.lit(0).alias("__is_right"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__v_{c}") for c in value_cols],
    )
    tagged_right = right.select(
        F.col(right_by).alias("__k"),
        F.col(right_on).alias("__ts"),
        F.lit(1).alias("__is_right"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
    )
    unioned = tagged_left.unionByName(tagged_right).withColumn(
        "__row",
        F.when(
            F.col("__is_right") == 1,
            F.struct(
                F.col("__ts").alias("__mts"),
                *[F.col(f"__v_{c}").alias(c) for c in value_cols],
            ),
        ),  # left rows: NULL struct — match state is struct nullity
    )

    matches: list[Column] = []
    if direction in ("backward", "nearest"):
        wb = (
            Window.partitionBy("__k")
            # right rows first at equal __ts -> inclusive (ts >= right_ts)
            .orderBy(F.col("__ts").asc(), F.col("__is_right").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        mb = F.last("__row", ignorenulls=True).over(wb)
        if tol is not None:
            mb = F.when(F.col("__ts") - mb["__mts"] <= tol, mb)
        matches.append(mb)
    if direction in ("forward", "nearest"):
        # The forward match is a running ``last`` over the REVERSED
        # sort (ts desc; right rows first at equal __ts so the match
        # stays inclusive), NOT ``first`` over a
        # [currentRow, unboundedFollowing) frame: Spark's unbounded-
        # following frame re-evaluates the aggregate from the current
        # row to the partition end for EVERY row — O(n^2) per key
        # partition. A 2M-row hot key turned a 10Mx1M as-of join
        # from seconds into hours; the growing-frame formulation is
        # O(n) and produces the same match (tie choice among right
        # rows sharing (key, ts) is engine-dependent either way, as
        # documented above).
        wf = (
            Window.partitionBy("__k")
            .orderBy(F.col("__ts").desc(), F.col("__is_right").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        mf = F.last("__row", ignorenulls=True).over(wf)
        if tol is not None:
            mf = F.when(mf["__mts"] - F.col("__ts") <= tol, mf)
        matches.append(mf)

    if direction == "nearest":
        mb, mf = matches
        chosen = (
            F.when(mb.isNull(), mf)
            .when(mf.isNull(), mb)
            # both present: smaller absolute distance wins, backward on tie
            .when(mf["__mts"] - F.col("__ts") < F.col("__ts") - mb["__mts"], mf)
            .otherwise(mb)
        )
    else:
        chosen = matches[0]

    filled = (
        unioned.withColumn("__m", chosen)
        .filter(F.col("__is_right") == 0)
    )
    out = filled.select(
        *lcols, *[F.col("__m")[c].alias(c) for c in value_cols]
    )
    if how == "inner":
        out = filled.filter(F.col("__m").isNotNull()).select(
            *lcols, *[F.col("__m")[c].alias(c) for c in value_cols]
        )
    return out
