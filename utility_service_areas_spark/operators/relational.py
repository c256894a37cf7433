"""Relational/ETL building blocks with the semantics of the reference
pipeline's data munging (reference: R/functions.R), expressed as
composable, Catalyst-optimizable DataFrame transforms.

Scale notes: every helper here is a narrow projection + (at most) one
window or aggregation — no Python UDFs, no collect. Window functions
partition on the group key, so the only shuffle is the hash exchange
on that key; AQE coalesces/splits partitions at runtime.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def tag_entities(
    df: DataFrame,
    key_col: str,
    operator_keys: Sequence[int],
    tag_col: str = "entity_type",
) -> DataFrame:
    """Tag rows 'operator' vs 'utility' from a curated key list.

    Parity: filter_certificates_csv, reference R/functions.R:194-228
    (operators sell wholesale power and have pseudo-service-areas that
    must be excluded). An IN-list predicate stays inside whole-stage
    codegen; for very large curated lists this becomes a broadcast
    left-semi join instead.
    """
    return df.withColumn(
        tag_col,
        F.when(F.col(key_col).isin(list(operator_keys)), F.lit("operator")).otherwise(
            F.lit("utility")
        ),
    )


def filter_active_utilities(
    df: DataFrame,
    key_col: str,
    inactive_keys: Sequence[int],
    active_pred: Column,
    tag_col: str = "entity_type",
) -> DataFrame:
    """Multi-predicate cleanup filter.

    Parity: filter_certificates_csv, reference R/functions.R:207-219
    (drop known-inactive certs, keep Active status, keep utilities).
    All three predicates are scan-pushable conjuncts.
    """
    return df.filter(
        (~F.col(key_col).isin(list(inactive_keys)))
        & active_pred
        & (F.col(tag_col) == "utility")
    )


def latest_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
) -> DataFrame:
    """Keep the single latest row per group, deterministic tiebreak.

    Parity: get_latest_chronology_for_cert (tail(n=1) on a sorted
    chronology), reference R/functions.R:308-312. One shuffle on the
    group key; row_number (not rank) guarantees exactly one row.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_first_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[Column],
) -> DataFrame:
    """distinct(key, .keep_all = TRUE) with a deterministic winner.

    Parity: reference R/functions.R:57 (dedupe certificate list keeping
    the first row). dropDuplicates() is nondeterministic about which
    row survives; a row_number window with an explicit order is not.
    """
    return latest_per_group(df, key_cols, order_cols)


def with_two_digit_year_fix(
    df: DataFrame,
    yy_col: Column,
    out_col: str,
    pivot: int = 1963,
) -> DataFrame:
    """Map a two-digit year to 19xx/20xx around a pivot year.

    Parity: convert_two_digit_years, reference R/functions.R:279-285
    (oldest RCA chronology year is 1964, so yy > 63 → 1900s).
    Pure column arithmetic — stays in codegen.
    """
    yy = yy_col % 100
    fixed = F.when(yy > pivot % 100, yy + 1900).otherwise(yy + 2000)
    return df.withColumn(out_col, fixed.cast("long"))


def sync_status_expr(is_current: Column) -> Column:
    """3-state sync status from a nullable boolean.

    Parity: set_sync_string, reference R/functions.R:490-498
    (NA → 'unknown', TRUE → 'up_to_date', FALSE → 'outdated').
    """
    return (
        F.when(is_current.isNull(), F.lit("unknown"))
        .when(is_current, F.lit("up_to_date"))
        .otherwise(F.lit("outdated"))
    )


def patch_override(
    df: DataFrame,
    patches: DataFrame,
    key_col: str,
    value_col: str,
    patch_value_col: str,
    guard: Column,
    out_col: str,
) -> DataFrame:
    """Guarded patch: take the patch value only when the version guard
    holds, else keep the original.

    Parity: get_merge_geom / patch_effective_versions, reference
    R/functions.R:421-444 and _targets.R:177-192 (patches apply only
    when the KML's last-update date matches the expected version).
    The patch table is tiny and curated → broadcast left join, no
    shuffle of the fact side.
    """
    joined = df.join(F.broadcast(patches), on=key_col, how="left")
    patched = F.when(
        F.col(patch_value_col).isNotNull() & guard, F.col(patch_value_col)
    ).otherwise(F.col(value_col))
    return joined.withColumn(out_col, patched).drop(patch_value_col)
