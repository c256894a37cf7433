"""t-digest sketch: accuracy (rank error vs exact), mergeability,
determinism, and plan shape."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SMOKE_SF
from utility_service_areas_spark.operators.sketch import (
    digest_quantile,
    merge_digest,
    tdigest_quantiles,
)


def test_merge_digest_compresses_and_preserves_weight():
    rng = np.random.RandomState(7)
    v = rng.exponential(3.0, 50_000)
    m, w = merge_digest(v, np.ones_like(v))
    assert len(m) <= 220  # ~delta centroids
    assert w.sum() == pytest.approx(50_000)
    assert np.all(np.diff(m) >= 0)  # sorted centroids


@pytest.mark.parametrize("q", [0.01, 0.25, 0.5, 0.75, 0.95, 0.99])
def test_rank_error_bound(q):
    rng = np.random.RandomState(11)
    v = rng.normal(100, 25, 80_000)
    m, w = merge_digest(v, np.ones_like(v))
    est = digest_quantile(m, w, q)
    rank = np.searchsorted(np.sort(v), est) / len(v)
    assert abs(rank - q) < 0.005


def test_merge_is_associative_within_tolerance():
    """Digest(all) and merge(digest(half1), digest(half2)) must agree —
    the property that makes per-partition build + per-group merge valid."""
    rng = np.random.RandomState(3)
    v = rng.gamma(2.0, 10.0, 60_000)
    m_all, w_all = merge_digest(v, np.ones_like(v))
    m1, w1 = merge_digest(v[:30_000], np.ones(30_000))
    m2, w2 = merge_digest(v[30_000:], np.ones(30_000))
    m_m, w_m = merge_digest(np.concatenate([m1, m2]), np.concatenate([w1, w2]))
    srt = np.sort(v)
    for q in (0.1, 0.5, 0.9, 0.99):
        r_all = np.searchsorted(srt, digest_quantile(m_all, w_all, q)) / len(v)
        r_m = np.searchsorted(srt, digest_quantile(m_m, w_m, q)) / len(v)
        assert abs(r_all - q) < 0.005
        assert abs(r_m - q) < 0.01  # merged digest: slightly looser


def test_single_and_empty_inputs():
    m, w = merge_digest(np.array([42.0]), np.array([1.0]))
    assert digest_quantile(m, w, 0.5) == 42.0
    m0, w0 = merge_digest(np.array([]), np.array([]))
    assert np.isnan(digest_quantile(m0, w0, 0.5))


def test_spark_tdigest_matches_exact_percentile(spark):
    from utility_service_areas_spark.sources.tables import load_table

    ev = load_table(spark, SMOKE_SF, "events")
    got = {
        (r["group"], r["q"]): r["estimate"]
        for r in tdigest_quantiles(ev, "event_type", "value").collect()
    }
    pdf = ev.select("event_type", "value").toPandas()
    for g, vals in pdf.groupby("event_type")["value"]:
        v = np.sort(vals.to_numpy(dtype=float))
        for q in (0.25, 0.5, 0.75, 0.95):
            est = got[(g, q)]
            rank = np.searchsorted(v, est) / len(v)
            assert abs(rank - q) < 0.02, (g, q, est)


def test_spark_tdigest_deterministic(spark):
    from utility_service_areas_spark.sources.tables import load_table

    ev = load_table(spark, SMOKE_SF, "events")
    a = sorted(map(tuple, tdigest_quantiles(ev, "event_type", "value").collect()))
    b = sorted(map(tuple, tdigest_quantiles(ev, "event_type", "value").collect()))
    assert a == b


def test_plan_is_arrow_batched_two_level(spark):
    from utility_service_areas_spark.plans.registry import physical_plan
    from utility_service_areas_spark.sources.tables import load_table

    ev = load_table(spark, SMOKE_SF, "events")
    df = tdigest_quantiles(ev, "event_type", "value")
    plan = physical_plan(df, "simple")
    assert "MapInPandas" in plan  # level 1: per-partition digests
    assert "FlatMapGroupsInPandas" in plan  # level 2: per-group merge
    assert "BatchEvalPython" not in plan


# ------------------------------------------------- SpaceSaving


def test_spacesaving_guarantees_on_skewed_stream():
    from utility_service_areas_spark.operators.sketch import SpaceSaving

    # zipf-ish: token i appears ~ 10000/i times
    stream = []
    for i in range(1, 200):
        stream += [f"t{i}"] * (10_000 // i)
    ss = SpaceSaving(32)
    for tok in stream:
        ss.add(tok)
    n = len(stream)
    true = {f"t{i}": 10_000 // i for i in range(1, 200)}
    for tok, c in true.items():
        if c >= n / 32:  # every true heavy hitter must be tracked
            assert tok in ss.count
            assert ss.count[tok] >= c  # count overestimates
            assert ss.count[tok] - ss.error[tok] <= c  # lb underestimates


def test_spark_heavy_hitters_bracket_exact_counts(spark):
    from utility_service_areas_spark.operators.sketch import heavy_hitter_tokens
    from utility_service_areas_spark.sources.tables import load_table

    docs = load_table(spark, SMOKE_SF, "documents")
    got = {r["token"]: (r["count_lb"], r["count_ub"])
           for r in heavy_hitter_tokens(docs, "text", k=64).collect()}
    pdf = docs.select("text").toPandas()
    exact = pdf["text"].str.lower().str.split().explode().value_counts()
    n = int(exact.sum())
    for tok, c in exact.items():
        if c >= n / 64:
            assert tok in got, f"heavy hitter {tok} missing"
        if tok in got:
            lb, ub = got[tok]
            assert lb <= c <= ub, (tok, lb, c, ub)


def test_cms_one_sided_error_and_bound(spark):
    """CMS guarantees: estimate >= true always, and for d=4 hash rows
    the chance all four collide into hot counters is tiny — pin the
    classic eps*N bound with eps = e/w on every probed token."""
    import math

    from utility_service_areas_spark.plans.registry import all_queries
    from utility_service_areas_spark.plans.text_queries import _CMS_W

    out = all_queries()["cms_token_counts"](spark, SMOKE_SF).collect()
    assert len(out) > 0
    n_total = None
    # total stream length N = sum over exact token counts; recompute
    from utility_service_areas_spark.functions.textops import tokens
    from utility_service_areas_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SMOKE_SF, "documents")
    n_total = docs.select(
        F.sum(F.size(tokens(F.col("text")))).alias("n")
    ).collect()[0].n
    bound = math.e * n_total / _CMS_W
    for r in out:
        assert r.cms_estimate >= r.true_count, r
        assert r.overcounted == (r.cms_estimate > r.true_count)
        assert r.cms_estimate - r.true_count <= bound, (r, bound)


def test_histogram_quantiles_bounded_by_bin_width(spark):
    """histogram_value_quantiles' estimate is the upper edge of the
    bin holding the ceil(p*n)-th smallest value, so for each group
    0 <= est - x_p <= one bin width (plus cents rounding) — a
    deterministic bound, tighter than the t-digest's statistical one."""
    import math

    import duckdb

    from utility_service_areas_spark.plans.analytics_queries import (
        _HIST_BINS,
        histogram_value_quantiles,
    )

    sf = "/root/testdata/sf0.01"
    got = {
        r.event_type: (r.p50_hist_cents, r.p95_hist_cents)
        for r in histogram_value_quantiles(spark, sf).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'"
    )
    rows = con.execute(
        """
        SELECT event_type, min(value), max(value), count(*),
               quantile_disc(value, 0.5), quantile_disc(value, 0.95)
        FROM events GROUP BY 1
        """
    ).fetchall()
    assert set(got) == {r[0] for r in rows}
    for et, lo, hi, n, x50, x95 in rows:
        width_cents = (hi - lo) / _HIST_BINS * 100
        for est_cents, x_p in ((got[et][0], x50), (got[et][1], x95)):
            diff = est_cents - x_p * 100
            assert -1.0 <= diff <= width_cents + 1.0, (et, diff, width_cents)
    assert math.isfinite(width_cents)
