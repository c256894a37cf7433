"""As-of / range join semantics on hand-built frames + sketch accuracy."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF
from utility_service_areas_spark.operators.temporal import asof_join, range_join


def test_asof_inclusive_and_unmatched(spark):
    d = dt.datetime
    quotes = spark.createDataFrame(
        [
            (1, d(2024, 1, 1, 10), 100.0),
            (1, d(2024, 1, 1, 12), 105.0),
            (2, d(2024, 1, 1, 9), 50.0),
        ],
        ["sym", "ts", "px"],
    )
    trades = spark.createDataFrame(
        [
            (1, d(2024, 1, 1, 11), "t1"),
            (1, d(2024, 1, 1, 12), "t2"),  # equal ts → inclusive match
            (2, d(2024, 1, 1, 8), "t3"),  # before any quote → null
            (3, d(2024, 1, 1, 9), "t4"),  # no quotes for key → null
        ],
        ["sym", "ts", "tid"],
    )
    out = asof_join(trades, quotes, ["sym"], "ts", ["px"])
    got = {r.tid: r.asof_px for r in out.collect()}
    assert got == {"t1": 100.0, "t2": 105.0, "t3": None, "t4": None}


def test_asof_duplicate_right_ts_deterministic(spark):
    """Two right rows with identical (key, ts): the pick must be stable
    run-to-run (window ordering is a total order via the value-hash
    tiebreak), not whichever partition happened to sort last."""
    d = dt.datetime
    quotes = spark.createDataFrame(
        [(1, d(2024, 1, 1, 10), 100.0), (1, d(2024, 1, 1, 10), 105.0)],
        ["sym", "ts", "px"],
    )
    trades = spark.createDataFrame([(1, d(2024, 1, 1, 11), "t1")], ["sym", "ts", "tid"])
    picks = set()
    for _ in range(3):
        out = asof_join(
            trades.repartition(4), quotes.repartition(3), ["sym"], "ts", ["px"]
        )
        picks.add(out.collect()[0].asof_px)
    assert len(picks) == 1  # same winner every run, any partitioning


def test_range_join_half_open(spark):
    d = dt.datetime
    ev = spark.createDataFrame(
        [(1, d(2024, 1, 1, 0)), (2, d(2024, 1, 2, 0)), (3, d(2024, 1, 3, 0))],
        ["eid", "ts"],
    )
    wins = spark.createDataFrame(
        [(7, d(2024, 1, 1, 0), d(2024, 1, 3, 0))], ["wid", "start_ts", "end_ts"]
    )
    out = range_join(ev, wins, "ts")
    # [start, end): event at end boundary excluded
    assert {r.eid for r in out.collect()} == {1, 2}


def test_approx_distinct_within_tolerance(spark):
    import __spark_entry__ as e

    approx = {
        r.event_type: r.approx_users
        for r in e.queries()["approx_distinct_users"](spark, SMOKE_SF).collect()
    }
    from utility_service_areas_spark.sources.tables import load_table

    exact = {
        r.event_type: r.exact
        for r in load_table(spark, SMOKE_SF, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    for k, ex in exact.items():
        assert abs(approx[k] - ex) / ex < 0.1, (k, approx[k], ex)
