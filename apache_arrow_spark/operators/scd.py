"""Slowly-changing-dimension (SCD type 2) history building.

Warehouses track dimension attributes over time as validity intervals:
each change row becomes a version with an ``effective_from`` /
``effective_to`` window, the latest version open-ended.  Built from a
changelog with ONE window pass per key — the interval edges are just
``lead`` over the change order, so the whole history materializes in a
single shuffle on the business key (contrast with the row-at-a-time
MERGE loops legacy ETL runs per change)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from apache_arrow_spark.session import compute_parallelism


def scd2_intervals(
    changes: DataFrame,
    key_col: str,
    order_cols: list[str],
    version_col: str = "version",
) -> DataFrame:
    """Changelog -> SCD2 interval table: every input row gains
    (version, effective_from, effective_to, is_current) where
    effective_from is the row's first order column, effective_to the NEXT
    change's (NULL while current).  ``order_cols[0]`` must be the change
    timestamp; remaining columns break ties deterministically."""
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_cols])
    # explicit key repartition ahead of the window (the asof/grid
    # discipline): AQE byte-costs the window's exchange and coalesces it
    # to ~2 tasks at bench scale, serializing the per-key sort of the
    # whole changelog; a user repartition is coalesce-exempt and IS the
    # window's required partitioning (no extra exchange).
    changes = changes.repartition(
        compute_parallelism(changes.sparkSession), F.col(key_col)
    )
    from_col = F.col(order_cols[0])
    to_col = F.lead(order_cols[0]).over(w)
    return (
        changes.withColumn(version_col, F.row_number().over(w))
        .withColumn("effective_from", from_col)
        .withColumn("effective_to", to_col)
        .withColumn("is_current", F.col("effective_to").isNull())
    )
