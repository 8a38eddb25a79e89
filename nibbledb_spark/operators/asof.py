"""As-of and banded range joins — operators Spark lacks natively,
composed from built-in DataFrame ops (SURVEY.md §2 Part B).

The as-of join uses the union + last(ignoreNulls) window trick instead
of a per-key merge join: one shuffle on the key, no Python in the path,
and — unlike a naive non-equi join — no quadratic blow-up when a key
has many right-side rows. This is the formulation that survives 100 TB:
the window is a single pass over (key, ts)-sorted data.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    *,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: Sequence[str] | None = None,
    suffix: str = "_asof",
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the nearest right row per key:
    ``direction='backward'`` (default) the most recent with
    ``right.ts <= left.ts``; ``'forward'`` the earliest with
    ``right.ts >= left.ts``; ``'nearest'`` whichever of the two is
    closer in absolute time (ties to the backward side).

    Implementation: tag both sides, union on (key, ts), then
    ``last(value, ignoreNulls)`` over a window ordered by
    (ts, side-marker) with an unbounded-preceding frame — and the
    mirrored frame for forward. Right rows sort before left rows at
    equal ts, so an equal-timestamp right row IS visible to the left
    row (<=, matching e.g. DuckDB ASOF JOIN). One shuffle on the key,
    a single pass per direction, no per-key quadratic blow-up.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction: {direction}")
    if direction == "nearest":
        return _asof_nearest(
            left, right, on,
            left_ts=left_ts, right_ts=right_ts,
            value_cols=value_cols, suffix=suffix,
        )
    on = list(on)
    if value_cols is None:
        value_cols = [
            c for c in right.columns if c not in on and c != right_ts
        ]
    out_cols = [f"{c}{suffix}" for c in value_cols]

    left_cols = [c for c in left.columns]
    l_side = left.select(
        *[F.col(c) for c in left_cols],
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(o) for c, o in zip(value_cols, out_cols)],
    )
    r_side = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols if c not in on],
        *[F.col(c) for c in on],
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(o) for c, o in zip(value_cols, out_cols)],
    ).select(*l_side.columns)  # align column order for the union

    if direction == "backward":
        # right rows (__side=0) sort before left at equal ts => inclusive <=
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("__t").asc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        pick = F.last
    else:  # forward: earliest right with ts >= left ts (inclusive)
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("__t").asc(), F.col("__side").desc())
            .rowsBetween(0, Window.unboundedFollowing)
        )
        pick = F.first
    filled = r_side.unionByName(l_side).select(
        *[c for c in l_side.columns if c not in out_cols],
        *[pick(o, ignorenulls=True).over(w).alias(o) for o in out_cols],
    )
    return filled.where(F.col("__side") == 1).drop("__t", "__side")


def _asof_nearest(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    *,
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str] | None,
    suffix: str,
) -> DataFrame:
    """nearest = run backward and forward passes, keep the closer match
    (backward wins ties). The right-side timestamp rides along as an
    extra value column so closeness is computable."""
    on = list(on)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in on and c != right_ts]
    r = right.withColumn("__rts", F.col(right_ts))
    vcols = list(value_cols) + ["__rts"]
    back = asof_join(
        left, r, on, left_ts=left_ts, right_ts=right_ts,
        value_cols=vcols, suffix="__b", direction="backward",
    )
    both = asof_join(
        back, r, on, left_ts=left_ts, right_ts=right_ts,
        value_cols=vcols, suffix="__f", direction="forward",
    )
    d_b = F.col(left_ts) - F.col("__rts__b")
    d_f = F.col("__rts__f") - F.col(left_ts)
    use_b = F.col("__rts__b").isNotNull() & (
        F.col("__rts__f").isNull() | (d_b <= d_f)
    )
    out = both.select(
        *[c for c in left.columns],
        *[
            F.when(use_b, F.col(f"{c}__b")).otherwise(F.col(f"{c}__f")).alias(
                f"{c}{suffix}"
            )
            for c in value_cols
        ],
    )
    return out


def interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_bounds: tuple[str, str] = ("t_min", "t_max"),
    right_bounds: tuple[str, str] = ("t_min", "t_max"),
    bucket_us: int = 86_400_000_000,
) -> DataFrame:
    """Interval-overlap join: pairs where ``l.min <= r.max AND
    r.min <= l.max`` — the reference's shard-overlap predicate
    (src/index.re:92-105) generalized to a distributed join.

    A naive theta join is |L|x|R|. Here each interval explodes into the
    coarse time buckets it spans (``bucket_us`` wide), candidates come
    from the bucket equi-join, and the exact predicate filters them —
    cost O(intervals x avg-buckets-spanned + true-overlaps), the
    standard temporal-blocking trick. Pick ``bucket_us`` near the
    typical interval length: too small explodes rows, too large
    degrades toward all-pairs within a bucket.
    """
    ll, lu = left_bounds
    rl, ru = right_bounds

    def bucketize(df: DataFrame, lo: str, hi: str) -> DataFrame:
        b = F.explode(
            F.sequence(
                (F.col(lo) / bucket_us).cast("long"),
                (F.col(hi) / bucket_us).cast("long"),
            )
        )
        return df.withColumn("__bucket", b)

    a = bucketize(left, ll, lu).alias("a")
    b = bucketize(right, rl, ru).alias("b")
    overlap = (F.col(f"a.{ll}") <= F.col(f"b.{ru}")) & (
        F.col(f"b.{rl}") <= F.col(f"a.{lu}")
    )
    out_cols = [F.col(f"a.{c}") for c in left.columns] + [
        F.col(f"b.{c}") for c in right.columns
    ]
    return (
        a.join(b, F.col("a.__bucket") == F.col("b.__bucket"))
        .where(overlap)
        .select(*out_cols)
        .distinct()
    )
