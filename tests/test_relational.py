"""Semantic unit tests of the relational operators on hand-built
frames (reference parity: R/functions.R, see each operator docstring).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Window
from pyspark.sql import functions as F

from utility_service_areas_spark.operators.relational import (
    dedup_first_per_key,
    filter_active_utilities,
    latest_per_group,
    patch_override,
    sync_status_expr,
    tag_entities,
    with_two_digit_year_fix,
)


def test_tag_and_filter(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, 7.0), (4, 3.0)], ["k", "bal"]
    )
    tagged = tag_entities(df, "k", operator_keys=[3])
    out = filter_active_utilities(
        tagged, "k", inactive_keys=[4], active_pred=F.col("bal") > 0
    )
    assert {r.k for r in out.collect()} == {1}  # 2 inactive bal, 3 operator, 4 listed


def test_latest_per_group_tiebreak(spark):
    d = dt.datetime
    df = spark.createDataFrame(
        [
            (1, d(2020, 1, 1), 100),
            (1, d(2021, 1, 1), 200),
            (1, d(2021, 1, 1), 150),  # same date → higher id wins
            (2, d(2019, 1, 1), 300),
        ],
        ["k", "ts", "id"],
    )
    out = latest_per_group(df, ["k"], [F.col("ts").desc(), F.col("id").desc()])
    got = {r.k: r.id for r in out.collect()}
    assert got == {1: 200, 2: 300}


def test_dedup_first_deterministic(spark):
    df = spark.createDataFrame([(1, "b"), (1, "a"), (2, "z")], ["k", "v"])
    out = dedup_first_per_key(df, ["k"], [F.col("v")])
    assert {(r.k, r.v) for r in out.collect()} == {(1, "a"), (2, "z")}


def test_two_digit_year_pivot(spark):
    df = spark.createDataFrame([(64,), (63,), (0,), (99,)], ["yy"])
    out = with_two_digit_year_fix(df, F.col("yy"), "fixed")
    got = {r.yy: r.fixed for r in out.collect()}
    # Reference pivot 1963: yy>63 → 1900s else 2000s (R/functions.R:279-285)
    assert got == {64: 1964, 99: 1999, 63: 2063, 0: 2000}


def test_sync_status_three_state(spark):
    df = spark.createDataFrame(
        [(1, True), (2, False), (3, None)], ["k", "cur"]
    )
    out = df.select("k", sync_status_expr(F.col("cur")).alias("s"))
    got = {r.k: r.s for r in out.collect()}
    assert got == {1: "up_to_date", 2: "outdated", 3: "unknown"}


def test_patch_override_guard(spark):
    base = spark.createDataFrame(
        [(1, "orig1", 30), (2, "orig2", 10), (3, "orig3", 40)],
        ["k", "name", "size"],
    )
    patches = spark.createDataFrame([(1, "patch1"), (2, "patch2")], ["k", "pname"])
    out = patch_override(
        base, patches, "k", "name", "pname", guard=F.col("size") >= 25, out_col="final"
    )
    got = {r.k: r.final for r in out.collect()}
    # k=2 fails the version guard → keeps original (R/functions.R:421-444)
    assert got == {1: "patch1", 2: "orig2", 3: "orig3"}


def _brute_cdc_winner(rows):
    """Reference winner under (v DESC, op ASC, bal ASC NULLS FIRST)."""

    def key(r):
        v, op, bal = r
        return (-v, op, (0, 0) if bal is None else (1, bal))

    return min(rows, key=key)


CDC_TIE_LOGS = [
    # (rows per key, description) — every row is (v, op, bal_cents)
    [(2, "U", 100), (2, "D", None)],  # same-version delete+update: D wins
    [(2, "D", None), (2, "U", 100)],  # arrival order must not matter
    [(3, "U", 500), (3, "U", 200)],  # same-version updates: lower bal wins
    [(1, "U", 9), (2, "U", 7), (2, "U", None)],  # NULL bal sorts first
    [(5, "D", None), (5, "D", None), (4, "U", 1)],  # exact duplicates
]


def test_cdc_version_tie_batch_window_is_deterministic(spark):
    """ADVICE r12: cdc_latest_version_merge's window ordered by v DESC
    alone — nondeterministic on duplicate versions. Now the shared
    cdc_tiebreak_order resolves ties (delete beats update, then
    bal ASC NULLS FIRST); pin the window pick against a brute
    reference on tie-adversarial changelogs the substrate never
    produces (its versions are unique per key by construction)."""
    from utility_service_areas_spark.plans.etl_queries import (
        cdc_tiebreak_order,
    )

    rows = []
    for k, log in enumerate(CDC_TIE_LOGS):
        rows.extend((k, v, op, bal) for v, op, bal in log)
    df = spark.createDataFrame(
        rows, "k long, v long, op string, bal_cents long"
    )
    w = Window.partitionBy("k").orderBy(*cdc_tiebreak_order())
    got = {
        r.k: (r.v, r.op, r.bal_cents)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    want = {k: _brute_cdc_winner(log) for k, log in enumerate(CDC_TIE_LOGS)}
    assert got == want
