"""As-of (time-travel) join — an operator the reference era lacks and Spark
has no native form of; composed from a union + ordered window, the standard
distributed formulation.

For each left row (key, t), attach the right row with the same key and the
largest right-time <= t (inclusive, matching DuckDB/pandas ``merge_asof``
semantics with direction='backward').

Scale shape: ONE shuffle (hash by key) + per-partition sort — identical cost
to a sort-merge join, no range explosion.  Window state is a single
carry-forward row per key, so skewed keys stream in O(1) memory.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from apache_arrow_spark.session import compute_parallelism


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    how: str = "inner",
    tolerance=None,
) -> DataFrame:
    """``left`` rows enriched with the latest ``right`` row at-or-before
    ``left_time`` per ``on`` key.

    ``how``: 'inner' drops unmatched left rows, 'left' keeps them with nulls.
    ``tolerance``: optional Column/literal — matches older than
    ``left_time - tolerance`` are discarded (pandas merge_asof tolerance).
    """
    # left_time re-enters the output via the __t alias — including it in
    # lcols too would emit a DUPLICATE column (latent until a consumer
    # references it and hits AMBIGUOUS_REFERENCE)
    lcols = [c for c in left.columns if c not in (on, left_time)]
    rcols = [c for c in right.columns if c != on]
    # left_time is excluded from lcols (it re-enters via the __t alias)
    # but still lands in the output, so it must collide-check against the
    # right side too — both sides naming their time column 'ts' is the
    # natural call pattern and would otherwise silently emit two 'ts'
    # output columns (and break asof_join_nearest's getField resolve).
    overlap = (set(lcols) | {left_time}) & set(rcols)
    if overlap:
        raise ValueError(f"column collision between sides: {sorted(overlap)}")

    tagged_left = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in rcols],
    )
    tagged_right = right.select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c) for c in rcols],
    )
    unioned = tagged_left.unionByName(tagged_right)
    # explicit key repartition ahead of the carry window (the
    # grid_interpolate discipline): the union's exchange is byte-costed
    # by AQE, which coalesces it to ~2 tasks at bench scale and
    # serializes the per-key sort + carry of the fact-scale union
    # (measured: a 1.1 s 2-task window stage in q152's profile).  A user
    # repartition is coalesce-exempt and IS the window's required hash
    # partitioning, so it adds no exchange.
    unioned = unioned.repartition(compute_parallelism(left.sparkSession), F.col("__k"))

    # right rows sort before left rows at equal time -> inclusive (<=) match
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__t"), F.col("__side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Carry the matched right row as ONE struct: carrying each column with its
    # own last(ignorenulls) would backfill a legitimately-NULL attribute from
    # an older right row, emitting a composite row that never existed (DuckDB
    # ASOF JOIN / pandas merge_asof keep the matched row's NULLs).
    rrow = F.when(
        F.col("__side") == 0,
        F.struct(
            F.col("__t").alias("__rt"), *[F.col(c).alias(c) for c in rcols]
        ),
    )
    carried = unioned.select(
        "__k",
        "__t",
        "__side",
        *[F.col(c) for c in lcols],
        F.last(rrow, ignorenulls=True).over(w).alias("__r"),
    )
    matched = carried.filter(F.col("__side") == 1)
    out = matched.select(
        "__k",
        "__t",
        *[F.col(c) for c in lcols],
        *[F.col("__r").getField(c).alias(c) for c in rcols],
        F.col("__r").getField("__rt").alias("__rt"),
    )
    valid = F.col("__rt").isNotNull()
    if tolerance is not None:
        valid = valid & (F.col("__rt") >= F.col("__t") - tolerance)
    if how == "inner":
        out = out.filter(valid)
    elif how == "left":
        # null-out stale/absent matches but keep the left row
        out = out.select(
            "__k",
            "__t",
            *lcols,
            *[F.when(valid, F.col(c)).alias(c) for c in rcols],
        )
    else:
        raise ValueError("how must be 'inner' or 'left'")
    return out.select(
        F.col("__k").alias(on), F.col("__t").alias(left_time), *lcols, *rcols
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    how: str = "inner",
    tolerance=None,
) -> DataFrame:
    """``left`` rows enriched with the EARLIEST ``right`` row at-or-after
    ``left_time`` per key — pandas ``merge_asof(direction='forward')``.
    Implemented by time negation over the backward join (latest -t' <= -t
    is exactly earliest t' >= t), inheriting its one-shuffle union +
    struct-carry plan."""
    lneg = left.withColumn("__lnt", -F.col(left_time))
    rneg = right.withColumn("__rnt", -F.col(right_time))
    out = asof_join(
        lneg, rneg, on, "__lnt", "__rnt", how=how, tolerance=tolerance
    )
    return out.drop("__lnt", "__rnt")


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    left_id: str,
) -> DataFrame:
    """``left`` rows enriched with the CLOSEST ``right`` row in either
    direction — pandas ``merge_asof(direction='nearest')``; ties prefer
    the backward (at-or-before) match.  Runs the backward and forward
    passes (each one shuffle on the key) and resolves per left row by
    absolute time distance; ``left_id`` must uniquely identify left rows.
    Always left-semantics (unmatched rows keep NULLs)."""
    rcols = [c for c in right.columns if c != on]
    b = asof_join(left, right, on, left_time, right_time, how="left")
    f = asof_join_forward(left, right, on, left_time, right_time, how="left")
    bsel = b.select(
        *left.columns,
        F.struct(*[F.col(c).alias(c) for c in rcols]).alias("__b"),
    )
    fsel = f.select(
        F.col(left_id).alias("__fid"),
        F.struct(*[F.col(c).alias(c) for c in rcols]).alias("__f"),
    )
    j = bsel.join(fsel, F.col(left_id) == F.col("__fid")).drop("__fid")
    bt = F.col("__b").getField(right_time)
    ft = F.col("__f").getField(right_time)
    lt = F.col(left_time)
    pick_b = (
        bt.isNotNull()
        & (ft.isNull() | ((lt - bt) <= (ft - lt)))
    )
    chosen = F.when(pick_b, F.col("__b")).otherwise(F.col("__f"))
    return j.select(
        *left.columns,
        *[chosen.getField(c).alias(c) for c in rcols],
    )
