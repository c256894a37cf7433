"""Round-11 operator pins: the KMV / theta sketch family.

The oracle gate proves cross-engine arithmetic identity; these tests
pin the SEMANTICS the mirrored SQL cannot check independently (the
r9-skyline lesson): estimator accuracy against exact truth, the
exact-degradation path for non-full sketches, and mergeability of the
min-k state.
"""

from __future__ import annotations

import os

from tests.conftest import SMOKE_SF
from utility_service_areas_spark.plans.registry import physical_plan

# Measured at sf0.001 (k=64): distinct estimates within ~10% of truth,
# intersection estimates within ~15%. KMV RSE at k=64 is ~13%, so 30%
# (~2.3 sigma) is a real pin — a broken threshold/scale seam is off by
# multiples, not percent.
_REL_TOL = 0.30


def _exact_truth(spark, sf_dir):
    from utility_service_areas_spark.sources.tables import load_table

    pairs = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_custkey")
        .distinct()
        .collect()
    )
    by_prio: dict[str, set] = {}
    for r in pairs:
        by_prio.setdefault(r.o_orderpriority, set()).add(r.o_custkey)
    return by_prio


def test_kmv_distinct_within_error_bound(spark):
    from utility_service_areas_spark.plans.registry import all_queries

    truth = _exact_truth(spark, SMOKE_SF)
    got = all_queries()["kmv_distinct_customers"](spark, SMOKE_SF).collect()
    assert {r.o_orderpriority for r in got} == set(truth)
    for r in got:
        exact = len(truth[r.o_orderpriority])
        assert abs(r.kmv_estimate - exact) <= _REL_TOL * exact, (
            r.o_orderpriority,
            r.kmv_estimate,
            exact,
        )


def test_kmv_overlap_within_error_bound(spark):
    from utility_service_areas_spark.plans.registry import all_queries

    truth = _exact_truth(spark, SMOKE_SF)
    got = all_queries()["kmv_customer_overlap"](spark, SMOKE_SF).collect()
    prios = sorted(truth)
    want_pairs = {(a, b) for a in prios for b in prios if a < b}
    assert {(r.prio_a, r.prio_b) for r in got} == want_pairs
    for r in got:
        exact = len(truth[r.prio_a] & truth[r.prio_b])
        assert abs(r.intersection_estimate - exact) <= _REL_TOL * exact, (
            r.prio_a,
            r.prio_b,
            r.intersection_estimate,
            exact,
        )


def test_kmv_exact_when_sketch_not_full(spark, tmp_path):
    """A group with fewer than k distinct values stores its WHOLE set:
    the distinct estimate must be exact, and the overlap theta must be
    the full hash domain so the intersection estimate is exact too."""
    from utility_service_areas_spark.plans.analytics_queries import (
        _KMV_K,
        _KMV_SCALE,
    )
    from utility_service_areas_spark.plans.registry import all_queries

    # prio A: custkeys 0..9; prio B: custkeys 5..14 -> |A&B| = 5.
    rows = [("A", c) for c in range(10)] + [("B", c) for c in range(5, 15)]
    assert len(rows) < _KMV_K
    spark.createDataFrame(
        rows, "o_orderpriority string, o_custkey long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "orders.parquet")
    )

    dist = {
        r.o_orderpriority: r
        for r in all_queries()["kmv_distinct_customers"](
            spark, str(tmp_path)
        ).collect()
    }
    assert dist["A"].kmv_estimate == 10 and dist["A"].n_sketch == 10
    assert dist["B"].kmv_estimate == 10 and dist["B"].n_sketch == 10

    ov = all_queries()["kmv_customer_overlap"](spark, str(tmp_path)).collect()
    assert len(ov) == 1
    r = ov[0]
    assert (r.prio_a, r.prio_b) == ("A", "B")
    assert r.theta == _KMV_SCALE  # non-full sketches keep the full domain
    assert r.n_common == 5 and r.intersection_estimate == 5


def test_kmv_sketch_is_mergeable(spark):
    """min-k over partial min-k sets == min-k of the union — the
    mergeability contract that makes the sketch a distributed
    aggregate. Verified by splitting orders into two halves, sketching
    each, merging, and comparing to the single-pass sketch."""
    from utility_service_areas_spark.plans.analytics_queries import (
        _KMV_K,
        _kmv_sketch,
    )
    from utility_service_areas_spark.sources.tables import load_table
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    orders = load_table(spark, SMOKE_SF, "orders")
    whole = {
        (r.o_orderpriority, r.hv)
        for r in _kmv_sketch(orders, "o_orderpriority", "o_custkey").collect()
    }
    half_a = _kmv_sketch(
        orders.filter(F.col("o_orderkey") % 2 == 0),
        "o_orderpriority",
        "o_custkey",
    )
    half_b = _kmv_sketch(
        orders.filter(F.col("o_orderkey") % 2 == 1),
        "o_orderpriority",
        "o_custkey",
    )
    w = Window.partitionBy("o_orderpriority").orderBy("hv")
    merged = {
        (r.o_orderpriority, r.hv)
        for r in half_a.unionByName(half_b)
        .select("o_orderpriority", "hv")
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
        .collect()
    }
    assert merged == whole


def test_autocorr_components_match_numpy(spark, tmp_path):
    """Semantics pin the mirrored SQL can't give: the integer
    components, divided offline, must produce the true Pearson
    autocorrelation of a hand-built series with a known period —
    including a GAP hour that densification must zero-fill (the r9
    burst lesson: a row-offset lag would silently skip it)."""
    import datetime as dt

    import numpy as np

    from utility_service_areas_spark.plans.analytics_queries import _ACF_LAGS
    from utility_service_areas_spark.plans.registry import all_queries

    # 72 hours of a period-24 pattern; hour 10 left EMPTY (gap).
    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    counts = {}
    for h in range(72):
        n = 1 + (h % 24) % 5  # periodic, nonconstant
        if h == 10:
            n = 0  # the densification gap
        counts[h] = n
        for _ in range(n):
            rows.append((eid, base + dt.timedelta(hours=h, minutes=7)))
            eid += 1
    spark.createDataFrame(rows, "event_id long, ts timestamp").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    x = np.array([counts[h] for h in range(72)], dtype=np.float64)
    got = {
        r.lag: r
        for r in all_queries()["events_hourly_autocorr"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(got) == set(_ACF_LAGS)
    for L in _ACF_LAGS:
        a, b = x[:-L], x[L:]
        r = got[L]
        assert r.n_pairs == len(a)
        assert r.sum_x == int(a.sum()) and r.sum_y == int(b.sum())
        assert r.sum_xy == int((a * b).sum())
        assert r.sum_x2 == int((a * a).sum()) and r.sum_y2 == int((b * b).sum())
        # offline fold == numpy corrcoef
        n = r.n_pairs
        num = n * r.sum_xy - r.sum_x * r.sum_y
        den = (n * r.sum_x2 - r.sum_x**2) ** 0.5 * (
            n * r.sum_y2 - r.sum_y**2
        ) ** 0.5
        assert abs(num / den - np.corrcoef(a, b)[0, 1]) < 1e-9
    # the period-24 series must autocorrelate near 1 at lag 24 and the
    # gap must NOT shift the phase
    r24 = got[24]
    n = r24.n_pairs
    num = n * r24.sum_xy - r24.sum_x * r24.sum_y
    den = (n * r24.sum_x2 - r24.sum_x**2) ** 0.5 * (
        n * r24.sum_y2 - r24.sum_y**2
    ) ** 0.5
    assert num / den > 0.9


def test_zonemap_prune_invariants(spark):
    """Pruning-rule pins the mirrored SQL can't independently give
    (both sides could invert the overlap test together): a pruned
    shard must contain NO matching rows — so scanned rows >= matched
    rows under EVERY layout; the hash layout must scan everything
    (content-independent shards span the full value range); the range
    layout must scan strictly less than hash on at least one selective
    predicate."""
    from utility_service_areas_spark.plans.registry import all_queries
    from utility_service_areas_spark.sources.tables import load_table

    n_docs = load_table(spark, SMOKE_SF, "documents").count()
    rows = all_queries()["shard_zonemap_prune"](spark, SMOKE_SF).collect()
    by = {(r.layout, r.pred_id): r for r in rows}
    assert len(by) == len(rows)
    layouts = {r.layout for r in rows}
    assert layouts == {"hash", "range"}
    for r in rows:
        assert r.n_docs_scanned >= r.n_docs_matched, r
        assert r.n_shards_scanned <= r.n_shards, r
        # both layouts see the same truth
        assert r.n_docs_matched == by[("hash", r.pred_id)].n_docs_matched
    for r in rows:
        # hash shards span the global value range, so hash can only
        # prune a predicate DISJOINT from it (which implies 0 matches)
        if r.layout == "hash" and r.n_docs_matched > 0:
            assert r.n_docs_scanned == n_docs, r
    assert any(
        r.n_docs_scanned < n_docs for r in rows if r.layout == "range"
    ), "range layout pruned nothing — zone maps are broken"


def test_ohlc_matches_brute_python(spark, tmp_path):
    """Positional-aggregate semantics pin: open/close must be the
    value at the MIN/MAX o_orderkey within the day — including when
    the extreme values sit in the middle of the day (inputs a mirrored
    arg_min/arg_max pair can't distinguish from first/last if both
    engines inverted the same way)."""
    import datetime as dt

    from utility_service_areas_spark.plans.registry import all_queries

    d = dt.date(2024, 5, 1)
    # (orderkey, price): open=7.00 (k=1), close=3.00 (k=9),
    # high=99.00 / low=0.50 strictly inside the day.
    rows = [
        (1, d, 7.00),
        (3, d, 99.00),
        (5, d, 0.50),
        (9, d, 3.00),
        (2, dt.date(2024, 5, 2), 11.00),
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    got = {
        r.day: r
        for r in all_queries()["orders_daily_ohlc"](spark, str(tmp_path)).collect()
    }
    r = got[d]
    assert (r.open_cents, r.high_cents, r.low_cents, r.close_cents) == (
        700,
        9900,
        50,
        300,
    )
    assert r.n_orders == 4 and r.volume_cents == 700 + 9900 + 50 + 300
    r2 = got[dt.date(2024, 5, 2)]
    assert (r2.open_cents, r2.close_cents, r2.n_orders) == (1100, 1100, 1)


def test_dataset_split_partitions_corpus(spark):
    """The three splits must PARTITION the corpus (doc and char totals
    conserved) and the train share must sit near its 80% design point
    — a broken bucket boundary or a non-uniform hash shifts it far
    outside the binomial band."""
    from utility_service_areas_spark.plans.registry import all_queries
    from utility_service_areas_spark.sources.tables import load_table

    docs = load_table(spark, SMOKE_SF, "documents")
    total = docs.count()
    rows = all_queries()["dataset_split_assign"](spark, SMOKE_SF).collect()
    assert {r.split for r in rows} <= {"train", "valid", "test"}
    assert sum(r.n_docs for r in rows) == total
    from pyspark.sql import functions as F

    total_chars = docs.agg(F.sum("n_chars")).collect()[0][0]
    assert sum(r.sum_chars for r in rows) == total_chars
    train = sum(r.n_docs for r in rows if r.split == "train")
    assert 0.72 * total <= train <= 0.88 * total  # ~4 sigma at n=500


def test_kmv_union_within_bound_and_exact_path(spark, tmp_path):
    from utility_service_areas_spark.plans.analytics_queries import _KMV_K
    from utility_service_areas_spark.plans.registry import all_queries

    # error bound on the real substrate
    truth = _exact_truth(spark, SMOKE_SF)
    exact_union = len(set().union(*truth.values()))
    got = all_queries()["kmv_union_distinct"](spark, SMOKE_SF).collect()[0]
    assert abs(got.kmv_union_estimate - exact_union) <= _REL_TOL * exact_union

    # exact degradation: all group sketches complete -> union exact
    rows = [("A", c) for c in range(10)] + [("B", c) for c in range(5, 15)]
    assert len(rows) < _KMV_K
    spark.createDataFrame(
        rows, "o_orderpriority string, o_custkey long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "orders.parquet")
    )
    small = all_queries()["kmv_union_distinct"](spark, str(tmp_path)).collect()[0]
    assert small.n_sketch == 15 and small.kmv_union_estimate == 15


def test_weekly_ohlc_folds_daily_bars(spark, tmp_path):
    """Bar-algebra pin: the weekly bar must take open from the week's
    FIRST day and close from its LAST day — with the week's high/low
    strictly inside — and a day in the NEXT ISO week must start a new
    bar (date_trunc('week') Monday convention on both engines)."""
    import datetime as dt

    from utility_service_areas_spark.plans.registry import all_queries

    mon = dt.date(2024, 5, 6)  # a Monday
    rows = [
        # Monday: open 7.00 (k=1) ... close 3.00 (k=4)
        (1, mon, 7.00),
        (4, mon, 3.00),
        # Wednesday: the week's high and low, strictly inside
        (5, mon + dt.timedelta(days=2), 99.00),
        (6, mon + dt.timedelta(days=2), 0.50),
        # Friday: close of the week = 8.00 (k=9, last key of last day)
        (9, mon + dt.timedelta(days=4), 8.00),
        # next Monday: its own bar
        (2, mon + dt.timedelta(days=7), 11.00),
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    got = {
        r.week: r
        for r in all_queries()["orders_weekly_ohlc"](spark, str(tmp_path)).collect()
    }
    w1 = got[mon]
    assert (w1.open_cents, w1.high_cents, w1.low_cents, w1.close_cents) == (
        700,
        9900,
        50,
        800,
    )
    assert w1.n_days == 3 and w1.n_orders == 5
    assert w1.volume_cents == 700 + 300 + 9900 + 50 + 800
    w2 = got[mon + dt.timedelta(days=7)]
    assert (w2.open_cents, w2.close_cents, w2.n_days) == (1100, 1100, 1)


def test_variant_stats_uses_variant_path_and_codegen(spark):
    """#218's claim is the PLAN, not just the values (the oracle pins
    those): props must parse through VariantExpressionEvalUtils (the
    binary variant encoding), stay whole-stage-codegen'd, and carry no
    Python evaluation node. Plus a malformed-JSON posture check:
    parse_json is strict, so a corrupt props row must fail loudly
    rather than silently zero (the repo's fail-loud ingest posture)."""
    from utility_service_areas_spark.plans.registry import all_queries
    from tests.conftest import SMOKE_SF

    df = all_queries()["events_variant_stats"](spark, SMOKE_SF)
    plan = physical_plan(df)
    assert "parseJson" in plan, "variant parse path not in the plan"
    # JVM static_invoke expression — never a Python evaluation node
    # (an AQE plan hides WholeStageCodegen spans until execution, so
    # assert the absence of Python nodes rather than the span label)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    import pytest
    from pyspark.sql import functions as F

    bad = spark.createDataFrame([("{not json",)], "props string")
    with pytest.raises(Exception):
        bad.select(F.variant_get(F.parse_json("props"), "$.k", "long")).collect()


def test_variant_oracle_regex_seam_matches_variant_on_substrate(spark):
    """ADVICE r11: the #218/#40 oracle regex ('"k":\\s*(\\d+)') matches
    the FIRST occurrence anywhere (nested objects included) and only
    non-negative integers, while variant_get navigates top-level $.k —
    the seam is only sound on flat props. Pin the invariant directly:
    on the substrate, the regex extraction and the variant path must
    agree ROW-WISE (NULL-safe), so any future substrate change that
    nests props or emits negative/missing k fails here, not in a
    silent oracle divergence."""
    from pyspark.sql import functions as F

    from tests.conftest import SMOKE_SF
    from utility_service_areas_spark.sources.tables import load_table

    ev = load_table(spark, SMOKE_SF, "events")
    regex_k = F.nullif(
        F.regexp_extract("props", r'"k":[ \t\n\x0b\f\r]*(\d+)', 1), F.lit("")
    ).cast("long")
    variant_k = F.variant_get(F.parse_json("props"), "$.k", "long")
    n_diverge = ev.where(~regex_k.eqNullSafe(variant_k)).count()
    assert n_diverge == 0
