"""Temporal join operators Spark lacks as primitives (SURVEY.md §2):
as-of join (point-in-time lookup) and range join (event-in-window).

As-of join is the union-marker pattern: union both sides with a
source marker, one window pass per key carries the most recent right
row forward (last ignorenulls), then keep left rows. One shuffle on
the key, state O(1) per row — at 100 TB this beats the naive
inequality join (which explodes) and needs no per-key skew handling
beyond AQE because the window is a linear scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    right_value_cols: Sequence[str],
    prefix: str = "asof_",
) -> DataFrame:
    """For each left row, the latest right row with
    right.ts <= left.ts on the same keys (inclusive, like DuckDB
    ASOF JOIN); unmatched left rows keep nulls.

    Tie semantics when several right rows share (key, ts): the winner
    is the row with the largest value-struct hash — arbitrary but
    deterministic and partitioning-independent (documented divergence
    — engines with an implicit row order, like DuckDB over an ordered
    file, may pick a different tied row).

    Returns left columns + prefixed right value columns.
    """
    rval = F.struct(*[F.col(c) for c in right_value_cols]).alias("__rval")
    r2 = right.select(
        *[F.col(k) for k in keys],
        F.col(ts_col).alias("__ts"),
        F.lit(0).alias("__src"),
        rval,
        F.lit(None).cast("struct<>").alias("__lrow_placeholder"),
    ).drop("__lrow_placeholder")
    lrow = F.struct(*[F.col(c) for c in left.columns]).alias("__lrow")
    l2 = left.select(
        *[F.col(k) for k in keys],
        F.col(ts_col).alias("__ts"),
        F.lit(1).alias("__src"),
        F.lit(None).cast(r2.schema["__rval"].dataType).alias("__rval"),
        lrow,
    )
    r2 = r2.withColumn("__lrow", F.lit(None).cast(l2.schema["__lrow"].dataType))
    unioned = l2.unionByName(r2)
    # Right rows sort before left rows at equal ts → inclusive match.
    # __tie makes the window ordering a TOTAL order even when two right
    # rows share (key, ts): last-in-order wins, so the largest
    # value-hash wins — arbitrary but deterministic run-to-run (and
    # partitioning-independent, unlike monotonically_increasing_id).
    tie = F.when(F.col("__src") == 0, F.xxhash64(F.col("__rval"))).otherwise(F.lit(0))
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__src", tie)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.withColumn("__asof", F.last("__rval", ignorenulls=True).over(w))
    out = filled.filter(F.col("__src") == 1)
    cols = [F.col(f"__lrow.{c}").alias(c) for c in left.columns] + [
        F.col(f"__asof.{c}").alias(f"{prefix}{c}") for c in right_value_cols
    ]
    return out.select(*cols)


def range_join(
    facts: DataFrame,
    windows: DataFrame,
    ts_col: str,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """Event-in-window join: fact.ts ∈ [start, end). The window table
    is dim-sized → broadcast; the fact side streams through without a
    shuffle. (For two large sides, bucketize both on time-grain keys
    first — same pattern as the LSH band join.)"""
    return facts.join(
        F.broadcast(windows),
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col)),
    )
