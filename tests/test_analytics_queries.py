"""Analytics query pins (plans/analytics_queries.py).

- The bootstrap-CI twin: `revenue_bootstrap_ci` (md5 hash seam,
  DuckDB-replayable, driver-oracled) and `revenue_bootstrap_ci_fast`
  (xxhash64 seam, ~13x cheaper, no SQL replay) share one plan builder
  (`_bootstrap_ci_plan`) and the same `_POISSON_THRESHOLDS` integer
  literals by construction. These tests are the correctness anchor the
  fast variant's registry doc cites in place of an oracle.
- Tie- and boundary-adversarial property tests for the experiment and
  distribution statistics, on values the substrate never produces: the
  mirrored oracle checks cross-engine arithmetic, not semantics.
"""

from __future__ import annotations

from tests.conftest import SMOKE_SF


# Two independent 64-replicate bootstraps of the same statistic: the
# rank-2/63 order-statistic bounds carry Monte Carlo error of a
# fraction of the CI width. Measured agreement (sf0.001 and sf0.01):
# every bound within 6% of the md5 CI's width. A broken seam (wrong
# threshold scaling, wrong hash range) shifts bounds by multiple
# widths or breaks the point sum, so 25% is a real pin, not a gimme.
_BOUND_TOL_WIDTHS = 0.25


def _fast_full(spark):
    """The xxhash64 seam's full 4-column CI surface (point sum and both
    order-statistic bounds). It has no DuckDB replay, so the registered
    key carries a reduced projection of it."""
    from utility_service_areas_spark.plans.analytics_queries import (
        _bootstrap_ci_plan,
    )

    return _bootstrap_ci_plan(spark, SMOKE_SF, hash_seam="xxhash64")


def test_bootstrap_ci_twin_agreement(spark):
    from utility_service_areas_spark.plans.analytics_queries import (
        _BOOT_REPLICATES,
        revenue_bootstrap_ci,
    )

    md5 = revenue_bootstrap_ci(spark, SMOKE_SF).collect()[0]
    fast = _fast_full(spark).collect()[0]

    # The point sum ignores the bootstrap weights entirely — identity
    # here pins that both variants aggregate the same base frame.
    assert md5.point_sum_cents == fast.point_sum_cents
    assert md5.n_replicates == fast.n_replicates == _BOOT_REPLICATES

    width = md5.ci_hi_cents - md5.ci_lo_cents
    assert width > 0
    assert abs(fast.ci_lo_cents - md5.ci_lo_cents) <= _BOUND_TOL_WIDTHS * width
    assert abs(fast.ci_hi_cents - md5.ci_hi_cents) <= _BOUND_TOL_WIDTHS * width

    # Sanity both CIs bracket the point estimate (Poisson(1) bootstrap
    # of a sum is centered on the observed sum).
    for row in (md5, fast):
        assert row.ci_lo_cents <= row.point_sum_cents <= row.ci_hi_cents


def test_bootstrap_ci_fast_is_deterministic(spark):
    """The xxhash64 CI bounds have no DuckDB replay; determinism under
    re-execution (fresh plan, fresh shuffle layout) is their stand-in
    partition-independence guarantee."""
    a = _fast_full(spark).collect()[0]
    b = _fast_full(spark).repartition(7).collect()[0]
    assert a == b


def test_bootstrap_ci_fast_registered_surface_is_the_full_plan(spark):
    """VERDICT r13 task #2: the REGISTERED (driver-attestable) reduced
    surface is a projection of the full xxhash plan — point sum
    identical, ci_ok=1 exactly when the full plan's bounds are
    non-null and ordered, so the CI stage cannot be dead-coded out
    from under the oracle."""
    from utility_service_areas_spark.plans.analytics_queries import (
        _BOOT_REPLICATES,
        revenue_bootstrap_ci_fast,
    )

    red = revenue_bootstrap_ci_fast(spark, SMOKE_SF).collect()[0]
    full = _fast_full(spark).collect()[0]
    assert red.point_sum_cents == full.point_sum_cents
    assert red.n_replicates == _BOOT_REPLICATES
    assert red.ci_ok == 1
    assert full.ci_lo_cents is not None
    assert full.ci_lo_cents <= full.ci_hi_cents


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_cuped_perfect_covariate_equalizes_arms(spark, tmp_path):
    """Semantic pin: when Y == X for every user (theta = 1 exactly)
    and the arms differ ONLY through covariate imbalance, the CUPED-
    adjusted means of both arms collapse to the same value (the
    pooled mean) — the textbook variance-reduction identity — while
    the raw means differ."""
    import datetime as dt

    from utility_service_areas_spark.plans.analytics_queries import (
        abtest_cuped_adjusted,
    )

    pre = dt.datetime(2024, 1, 5)
    post = dt.datetime(2024, 1, 20)
    rows = []
    eid = 0
    for uid in range(40):
        spend = float(100 + 7 * uid)  # varies by user
        rows.append((eid, pre, uid, "purchase", spend, "{}")); eid += 1
        rows.append((eid, post, uid, "purchase", spend, "{}")); eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = {r.variant: r for r in abtest_cuped_adjusted(spark, str(tmp_path)).collect()}
    assert set(got) == {"A", "B"}
    assert got["A"].theta_milli == got["B"].theta_milli == 1000  # theta == 1
    assert got["A"].raw_mean_milli != got["B"].raw_mean_milli  # imbalance
    assert got["A"].adj_mean_milli == got["B"].adj_mean_milli  # CUPED fixes it


def test_theil_sen_shrugs_off_outlier_day(spark, tmp_path):
    """Robustness pin: a clean 100-cents/day line with ONE absurd
    outlier day — the Theil-Sen slope stays at the true quantized
    slope (100_000 millicents/day) while OLS on the same data is
    pulled far away."""
    import datetime as dt

    from utility_service_areas_spark.plans.analytics_queries import (
        orders_theil_sen_trend,
    )

    rows = []
    for d in range(60):
        price = 1000.0 + 1.0 * d  # +100 cents/day
        if d == 30:
            price = 1_000_000.0  # outlier day
        rows.append(
            (d, 1, "O", price, dt.date(1995, 1, 1) + dt.timedelta(days=d),
             "1-URGENT", "c", 0, "x")
        )
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string, "
        "o_clerk string, o_shippriority long, o_comment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = orders_theil_sen_trend(spark, str(tmp_path)).collect()
    assert len(got) == 1 and got[0].yr == 1995
    assert got[0].ts_slope_millicents_per_day == 100_000


def test_exact_quartiles_matches_brute_on_adversarial_shapes(spark, tmp_path):
    """The two-phase selection equals a brute python sort on shapes
    chosen to stress the bucketing: all-equal values (one bucket),
    99% duplicates + a tail, powers-of-two counts (even/odd k
    boundaries), and a 2-row frame."""
    import datetime as dt

    from utility_service_areas_spark.plans.analytics_queries import (
        events_exact_quartiles_nosort,
    )

    shapes = {
        "all_equal": [5.0] * 97,
        "dup_heavy": [1.0] * 990 + [float(i) for i in range(2, 12)],
        "even": [float(i) for i in range(64)],
        "odd": [float(i) for i in range(65)],
        "two": [3.0, 9.0],
    }
    ts = dt.datetime(2024, 1, 10)
    for name, vals in shapes.items():
        rows = [(i, ts, i, "e", v, "{}") for i, v in enumerate(vals)]
        # one dir per shape: overwriting a path just read poisons the
        # session's file-listing cache (FAILED_READ_FILE on stale parts)
        _write_events(spark, f"{tmp_path}/{name}", rows)
        got = events_exact_quartiles_nosort(spark, f"{tmp_path}/{name}").collect()[0]
        cents = sorted(round(v * 100) for v in vals)
        n = len(cents)
        want = (
            cents[(n - 1) // 4],
            cents[(n - 1) // 2],
            cents[(3 * (n - 1)) // 4],
        )
        assert (got.p25_cents, got.median_cents, got.p75_cents) == want, name
        assert got.n_events == n, name


def test_srm_check_healthy_splits_and_formula(spark):
    """All three IN-USE hash seeds read UNFLAGGED on the substrate (a
    flagged row means a broken split), and chi2_milli satisfies the
    closed form (n_a-n_b)^2 * 1000 / n recomputed in python."""
    from tests.conftest import SMOKE_SF
    from utility_service_areas_spark.plans.analytics_queries import (
        abtest_srm_check,
    )

    rows = abtest_srm_check(spark, SMOKE_SF).collect()
    assert {r.seed for r in rows} == {"ab1:", "cuped2:", "split:"}
    import math

    for r in rows:
        assert r.srm_flag == 0, r.seed
        want = math.floor(
            (r.n_a - r.n_b) ** 2 * 1000.0 / (r.n_a + r.n_b) + 0.5
        )
        assert r.chi2_milli == want


def test_srm_audit_catches_the_retired_cuped_seed():
    """The audit's one real catch, pinned forever: the repo's ORIGINAL
    CUPED seed 'cuped:' splits the sf0.01 customer keyspace 690/810
    (chi2_milli 9600 >> 3841, z~3.1) — a deterministic unlucky seed —
    which is why #245 runs on 'cuped2:' (chi2_milli 963, healthy).
    Recomputed here from first principles (hashlib), independent of
    both engines."""
    import hashlib
    import math

    def chi2_milli(seed: str, n: int) -> int:
        n_a = sum(
            1
            for i in range(n)
            if int(hashlib.md5(f"{seed}{i}".encode()).hexdigest()[:15], 16) % 2
            == 0
        )
        return math.floor((2 * n_a - n) ** 2 * 1000.0 / n + 0.5)

    assert chi2_milli("cuped:", 1500) == 9600  # the catch
    assert chi2_milli("cuped2:", 1500) < 3841  # the replacement
    assert chi2_milli("cuped2:", 150) < 3841
    assert chi2_milli("cuped2:", 15000) < 3841


def test_gini_known_distributions(spark, tmp_path):
    """Closed-form anchors: a perfectly uniform activity profile reads
    gini ~ 0 (exactly 0 by the lower-rank formula for equal x_i), and
    a planted extreme (one user with ~all events) reads near 1 —
    recomputed against a brute sorted-rank python Gini."""
    import datetime as dt

    from utility_service_areas_spark.plans.analytics_queries import (
        user_activity_gini,
    )

    ts = dt.datetime(2024, 1, 10)

    def write(name, per_user):
        rows = []
        eid = 0
        for uid, n in enumerate(per_user):
            for _ in range(n):
                rows.append((eid, ts, uid, "e", 1.0, "{}")); eid += 1
        _write_events(spark, f"{tmp_path}/{name}", rows)

    def brute(per_user):
        import math

        xs = sorted(per_user)
        n, t = len(xs), sum(xs)
        s1 = sum((i + 1) * x for i, x in enumerate(xs))
        return math.floor((2 * s1 - (n + 1) * t) * 1_000_000 / (n * t) + 0.5)

    cases = {
        "uniform": [5] * 40,
        "extreme": [1] * 9 + [991],
        "mixed": [1, 1, 2, 3, 5, 8, 13, 21, 34, 55],
    }
    for name, per_user in cases.items():
        write(name, per_user)
        got = user_activity_gini(spark, f"{tmp_path}/{name}").collect()[0]
        assert got.gini_micros == brute(per_user), name
        assert got.n_users == len(per_user)
    assert brute(cases["uniform"]) == 0
    assert brute(cases["extreme"]) > 880_000


def test_chi2_independent_and_coupled_tables(spark, tmp_path):
    """A perfectly INDEPENDENT contingency table reads chi2 = 0
    exactly (every O equals E, integer-arged); a perfectly COUPLED one
    (brand determines type) reads chi2_milli ~ n*(min_dim-1)*1000."""
    from utility_service_areas_spark.plans.analytics_queries import (
        part_brand_type_chi2,
    )

    def write(name, rows):
        spark.createDataFrame(
            [
                (i, "nm", b, t, 1, 9.99)
                for i, (b, t) in enumerate(rows)
            ],
            "p_partkey long, p_name string, p_brand string, p_type string, "
            "p_size long, p_retailprice double",
        ).write.mode("overwrite").parquet(f"{tmp_path}/{name}/part.parquet")

    indep = [(b, t) for b in ("B1", "B2") for t in ("T1", "T2") for _ in range(25)]
    write("indep", indep)
    got = part_brand_type_chi2(spark, f"{tmp_path}/indep").collect()[0]
    assert (got.chi2_milli, got.dof, got.n_cells) == (0, 1, 4)

    coupled = [("B1", "T1")] * 50 + [("B2", "T2")] * 50
    write("coupled", coupled)
    got = part_brand_type_chi2(spark, f"{tmp_path}/coupled").collect()[0]
    # full grid: the two ZERO cells must be materialized (4 cells, not
    # the 2 observed) — without them chi2 read 50000, half the truth
    assert got.dof == 1 and got.n_cells == 4
    assert got.chi2_milli == 100 * 1000  # chi2 == n for a perfect 2x2 coupling


def test_seasonality_index_sums_to_twelve(spark):
    """Partition-of-unity property on the substrate: the 12 indices
    average to ~1e6 (sum ~ 12e6, floor-rounding slack <= 12) and every
    month is present."""
    from tests.conftest import SMOKE_SF
    from utility_service_areas_spark.plans.analytics_queries import (
        orders_seasonality_index,
    )

    rows = orders_seasonality_index(spark, SMOKE_SF).collect()
    assert {r.mon for r in rows} == set(range(1, 13))
    s = sum(r.index_micros for r in rows)
    assert 12_000_000 - 12 <= s <= 12_000_000 + 12


def test_poisson_ci_brackets_rate_and_scales(spark, tmp_path):
    """The CI must bracket the point rate symmetrically in n-space,
    and a planted 2-type stream (one type 4x the other) reads a 2x
    rate ratio... 4x ratio exactly (counts are exact)."""
    import datetime as dt

    from utility_service_areas_spark.plans.event_queries import (
        events_poisson_rate_ci,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(400):
        rows.append((eid, t0 + dt.timedelta(seconds=9 * i), 1, "hot", 1.0, "{}"))
        eid += 1
    for i in range(100):
        rows.append((eid, t0 + dt.timedelta(seconds=36 * i), 2, "cold", 1.0, "{}"))
        eid += 1
    _write_events(spark, str(tmp_path), rows)
    got = {r.event_type: r for r in events_poisson_rate_ci(spark, str(tmp_path)).collect()}
    assert got["hot"].n_events == 400 and got["cold"].n_events == 100
    # same observation span for every type (global), 4x count -> 4x rate
    assert got["hot"].span_seconds == got["cold"].span_seconds
    assert abs(got["hot"].rate_milli_per_hour - 4 * got["cold"].rate_milli_per_hour) <= 3
    for r in got.values():
        assert r.ci_lo_milli < r.rate_milli_per_hour < r.ci_hi_milli


def test_zscore_flags_only_true_outliers(spark):
    import math

    from utility_service_areas_spark.plans.analytics_queries import event_anomaly_zscore

    got = event_anomaly_zscore(spark, SMOKE_SF).collect()
    ev = spark.read.parquet(SMOKE_SF + "/events.parquet").collect()
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    want = set()
    for uid, rows in by_user.items():
        vals = [r.value for r in rows]
        mean = sum(vals) / len(vals)
        sd = math.sqrt(sum((v - mean) ** 2 for v in vals) / len(vals))
        if sd <= 0:
            continue
        for r in rows:
            if abs(round(1e6 * (r.value - mean) / sd)) > 2_000_000:
                want.add(r.event_id)
    assert {r.event_id for r in got} == want


def test_rfm_quartiles_are_balanced_and_coded(spark):
    from utility_service_areas_spark.plans.analytics_queries import customer_rfm_segments

    got = customer_rfm_segments(spark, SMOKE_SF).collect()
    n = len(got)
    assert n > 0
    for col in ("r_quartile", "f_quartile", "m_quartile"):
        vals = [getattr(r, col) for r in got]
        assert set(vals) <= {1, 2, 3, 4}
        # exact percentiles: each quartile holds 15-35% of customers
        # (ties on small-int metrics skew buckets, but never collapse them)
        for q in (1, 4):
            share = vals.count(q) / n
            assert 0.10 <= share <= 0.45, (col, q, share)
    for r in got:
        assert r.rfm_code == r.r_quartile * 100 + r.f_quartile * 10 + r.m_quartile


def test_explicit_hll_accuracy_vs_exact(spark):
    """The explicit HLL (value-oracled) must land within 10% of exact
    distinct counts on the smoke substrate (measured ~1.5%); the
    register count can never exceed m=1024."""
    from pyspark.sql import functions as F

    from utility_service_areas_spark.plans.analytics_queries import hll_registers_users

    got = {r.event_type: r for r in hll_registers_users(spark, SMOKE_SF).collect()}
    ev = spark.read.parquet(SMOKE_SF + "/events.parquet")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, n in exact.items():
        assert got[k].n_registers_used <= 1024
        assert abs(got[k].hll_estimate - n) / n <= 0.10, (k, got[k], n)
