"""SURVEY.md §2 extensions — temporal joins and analytic aggregates:
as-of attribution, range join, rollup with grouping flags, exact
percentiles, frame-based moving windows, approx-distinct sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from utility_service_areas_spark.operators.graph import HITS_ROUNDS, PAGERANK_ROUNDS
from utility_service_areas_spark.operators.temporal import asof_join, range_join
from utility_service_areas_spark.plans.registry import query
from utility_service_areas_spark.sources.tables import load_table
from utility_service_areas_spark.operators.localrel import local_df

PROMO_WINDOWS = [
    (1, "2024-01-02 00:00:00", "2024-01-05 00:00:00"),
    (2, "2024-01-08 12:00:00", "2024-01-10 00:00:00"),
    (3, "2024-01-15 00:00:00", "2024-01-16 00:00:00"),
    (4, "2024-01-20 06:00:00", "2024-01-27 18:00:00"),
]
_PROMO_SQL = ", ".join(
    f"({i}, TIMESTAMP '{s}', TIMESTAMP '{e}')" for i, s, e in PROMO_WINDOWS
)


@query(
    "events_asof_attribution",
    oracle="""
    WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
    SELECT p.event_id AS purchase_id, p.user_id,
           c.event_id AS asof_event_id, c.ts AS asof_ts
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="As-of join (point-in-time attribution: each purchase matched "
    "to the user's most recent prior click). Union-marker + one window "
    "pass — one shuffle, no inequality-join explosion.",
    tags=("temporal", "bench"),
)
def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "user_id", "ts")
    )
    out = asof_join(
        purchases, clicks, keys=["user_id"], ts_col="ts", right_value_cols=["event_id", "ts"]
    )
    return out.select(
        "purchase_id", "user_id", F.col("asof_event_id"), F.col("asof_ts")
    )


@query(
    "events_in_promo_windows",
    oracle=f"""
    SELECT promo_id, count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
    FROM events
    JOIN (VALUES {_PROMO_SQL}) AS w(promo_id, start_ts, end_ts)
      ON ts >= start_ts AND ts < end_ts
    GROUP BY promo_id
    """,
    doc="Range join (event-in-window): broadcast the dim-sized window "
    "table, facts stream through unshuffled; one agg shuffle after.",
    tags=("temporal",),
)
def events_in_promo_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wins = local_df(spark, 
        PROMO_WINDOWS, ["promo_id", "start_ts", "end_ts"]
    ).select(
        "promo_id",
        F.col("start_ts").cast("timestamp"),
        F.col("end_ts").cast("timestamp"),
    )
    joined = range_join(ev, wins, "ts")
    return joined.groupBy("promo_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
    )


@query(
    "agg_rollup_region_nation",
    oracle="""
    SELECT r.r_name, n.n_name,
           count(*) AS n_customers,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS total_bal_cents,
           CAST(GROUPING(r.r_name) * 2 + GROUPING(n.n_name) AS BIGINT) AS grp
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    doc="Hierarchical rollup (region → nation → grand total) with "
    "grouping flags; partial-agg friendly single pass.",
    tags=("analytics",),
)
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("total_bal_cents"),
        F.grouping_id().cast("long").alias("grp"),
    )


@query(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           CAST(round(quantile_cont(value, 0.5) * 100) AS BIGINT) AS p50_cents,
           CAST(round(quantile_cont(value, 0.95) * 100) AS BIGINT) AS p95_cents
    FROM events GROUP BY event_type
    """,
    doc="Exact interpolated percentiles per group (Spark `percentile` "
    "== DuckDB quantile_cont). For 100 TB use approx_percentile — the "
    "exact form is the correctness spec.",
    tags=("analytics",),
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)") * 100).cast("long").alias("p50_cents"),
        F.round(F.expr("percentile(value, 0.95)") * 100).cast("long").alias("p95_cents"),
    )


@query(
    "events_moving_window",
    oracle="""
    SELECT event_id, user_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS moving_sum_cents,
           count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS n_in_window
    FROM events
    """,
    doc="Frame-based moving aggregate per user (6-row sliding sum).",
    tags=("analytics",),
)
def events_moving_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-5, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.round(F.col("value") * 100).cast("long")).over(w).alias("moving_sum_cents"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


@query(
    "profile_orders",
    oracle="""
    SELECT count(*) AS n_rows,
           count(DISTINCT o_custkey) AS n_distinct_cust,
           count(DISTINCT o_orderstatus) AS n_distinct_status,
           min(o_orderdate) AS min_date,
           max(o_orderdate) AS max_date,
           CAST(round(min(o_totalprice) * 100) AS BIGINT) AS min_price_cents,
           CAST(round(max(o_totalprice) * 100) AS BIGINT) AS max_price_cents,
           count(*) - count(o_orderpriority) AS n_null_priority
    FROM orders
    """,
    doc="Single-pass data-profiling summary (row counts, distincts, "
    "ranges, null counts) — the ingest-validation stage of a pipeline.",
    tags=("analytics",),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_distinct_cust"),
        F.countDistinct("o_orderstatus").alias("n_distinct_status"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
        F.round(F.min("o_totalprice") * 100).cast("long").alias("min_price_cents"),
        F.round(F.max("o_totalprice") * 100).cast("long").alias("max_price_cents"),
        (F.count(F.lit(1)) - F.count("o_orderpriority")).alias("n_null_priority"),
    )


@query(
    "approx_distinct_users",
    oracle=None,  # HLL sketch; accuracy pytest-verified vs exact
    doc="HyperLogLog approximate distinct users per event type "
    "(the 100 TB path for COUNT(DISTINCT); exactness traded for "
    "mergeable fixed-size sketch state).",
    tags=("analytics",),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
    )


@query(
    "supplier_balance_rank_dist",
    oracle="""
    SELECT s_suppkey, CAST(s_nationkey AS BIGINT) AS s_nationkey,
           CAST(round(percent_rank() OVER w * 1000000) AS BIGINT) AS pr_micros,
           CAST(round(cume_dist() OVER w * 1000000) AS BIGINT) AS cd_micros
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    """,
    doc="Rank-distribution windows (percent_rank + cume_dist) per "
    "nation. The ORDER BY includes the unique suppkey so ranks are a "
    "total order (Spark and DuckDB agree on ties); partitioning by "
    "nation bounds each sort — no global single-reducer window. The "
    "rank ratios divide identical integers, so the micros rounding is "
    "bitwise-stable across engines.",
    tags=("analytics",),
)
def supplier_balance_rank_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return s.select(
        "s_suppkey",
        F.col("s_nationkey").cast("long").alias("s_nationkey"),
        F.round(F.percent_rank().over(w) * 1_000_000).cast("long").alias("pr_micros"),
        F.round(F.cume_dist().over(w) * 1_000_000).cast("long").alias("cd_micros"),
    )


@query(
    "user_first_last_event",
    oracle="""
    SELECT DISTINCT user_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type) OVER w AS last_type,
           CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="first_value/last_value with an explicit unbounded frame "
    "(entry/exit event per user journey). Total order via (ts, "
    "event_id); one shuffle on user_id serves all three windows.",
    tags=("analytics",),
)
def user_first_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wc = Window.partitionBy("user_id")
    return ev.select(
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.count(F.lit(1)).over(wc).alias("n_events"),
    ).distinct()


@query(
    "daily_new_users_cumulative",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id),
    daily AS (SELECT d, count(*) AS new_users FROM first_seen GROUP BY d)
    SELECT d, new_users,
           CAST(sum(new_users) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cumulative_users
    FROM daily
    """,
    doc="User-acquisition funnel: first-seen date per user (one "
    "partial-agged shuffle over the fact table) → per-day new-user "
    "counts → running total. The global-order window runs over the "
    "DATE dimension only — bounded by the calendar, never by event "
    "volume, so the single-partition window is safe at 100 TB.",
    tags=("analytics",),
)
def daily_new_users_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d"))
    daily = first_seen.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "d", "new_users", F.sum("new_users").over(w).alias("cumulative_users")
    )


@query(
    "supplier_daily_running_revenue",
    oracle="""
    WITH daily AS (
      SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem GROUP BY l_suppkey, d)
    SELECT l_suppkey, d, rev_cents,
           CAST(sum(rev_cents) OVER (PARTITION BY l_suppkey ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS running_cents
    FROM daily
    """,
    doc="Running-revenue time series per supplier: rows collapse to "
    "(supplier, day) BEFORE the window — the running sum then orders "
    "a unique key (deterministic, no fact-row tiebreak problem) and "
    "each partition's window is calendar-bounded. Per-row cents "
    "rounding keeps the sums order-independent across engines.",
    tags=("analytics",),
)
def supplier_daily_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            "l_suppkey",
            F.to_date("l_shipdate").alias("d"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("l_suppkey", "d")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "l_suppkey", "d", "rev_cents", F.sum("rev_cents").over(w).alias("running_cents")
    )


@query(
    "tdigest_value_quantiles",
    oracle=None,  # sketch estimates; rank-error pytest-verified vs exact
    doc="Per-event-type value quantiles via distributed t-digest "
    "(operators/sketch.py): per-partition digests built map-side, "
    "merged associatively per group — the mergeable-sketch shape that "
    "replaces exact percentile's all-rows-in-one-place requirement at "
    "100 TB. Shuffle carries O(δ) centroids per partition-group, "
    "never values. Deterministic (no RNG; merge order sorted).",
    tags=("analytics", "sketch"),
)
def tdigest_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.sketch import tdigest_quantiles

    ev = load_table(spark, sf_dir, "events")
    return tdigest_quantiles(ev, "event_type", "value")


@query(
    "event_funnel_conversion",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    tv AS (SELECT u.user_id,
                  (SELECT min(ts) FROM events e WHERE e.user_id = u.user_id
                    AND e.event_type = 'view') AS t_view
           FROM u),
    tc AS (SELECT tv.user_id, tv.t_view,
                  (SELECT min(ts) FROM events e WHERE e.user_id = tv.user_id
                    AND e.event_type = 'click' AND e.ts > tv.t_view) AS t_click
           FROM tv),
    tp AS (SELECT tc.user_id, tc.t_view, tc.t_click,
                  (SELECT min(ts) FROM events e WHERE e.user_id = tc.user_id
                    AND e.event_type = 'purchase' AND e.ts > tc.t_click)
                      AS t_purchase
           FROM tc)
    SELECT user_id,
           CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
                     WHEN t_click IS NOT NULL THEN 2
                     WHEN t_view IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS funnel_stage
    FROM tp
    """,
    doc="Ordered funnel (view → click-after-view → "
    "purchase-after-click) per user: ONE shuffle collects each user's "
    "events, a sorted JVM `aggregate` fold walks them in time order — "
    "no per-stage rescan, no correlated re-join (the oracle spells "
    "the same semantics as three correlated min-subqueries). The fold "
    "state is three timestamps per user regardless of event count.",
    tags=("analytics",),
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    zero = F.lit(None).cast("timestamp")
    folded = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias("evs"))
        .select(
            "user_id",
            F.aggregate(
                "evs",
                F.struct(
                    zero.alias("tv"), zero.alias("tc"), zero.alias("tp")
                ),
                lambda s, e: F.struct(
                    F.when(
                        s["tv"].isNull() & (e["event_type"] == "view"), e["ts"]
                    )
                    .otherwise(s["tv"])
                    .alias("tv"),
                    F.when(
                        s["tc"].isNull()
                        & s["tv"].isNotNull()
                        & (e["event_type"] == "click")
                        & (e["ts"] > s["tv"]),
                        e["ts"],
                    )
                    .otherwise(s["tc"])
                    .alias("tc"),
                    F.when(
                        s["tp"].isNull()
                        & s["tc"].isNotNull()
                        & (e["event_type"] == "purchase")
                        & (e["ts"] > s["tc"]),
                        e["ts"],
                    )
                    .otherwise(s["tp"])
                    .alias("tp"),
                ),
            ).alias("st"),
        )
    )
    # users with no view/click/purchase events at all still count (stage 0)
    allu = ev.select("user_id").distinct()
    return (
        allu.join(folded, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("st.tp").isNotNull(), 3)
            .when(F.col("st.tc").isNotNull(), 2)
            .when(F.col("st.tv").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("funnel_stage"),
        )
    )


@query(
    "cohort_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS cohort_day
      FROM events GROUP BY user_id)
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS BIGINT)
               AS day_offset,
           count(DISTINCT e.user_id) AS active_users
    FROM events e JOIN first_seen f ON f.user_id = e.user_id
    GROUP BY f.cohort_day, day_offset
    """,
    doc="Cohort retention matrix: users grouped by first-activity "
    "day, activity counted per day offset (the substrate spans one "
    "month; at production scale swap day→month, same plan). The first-seen agg is "
    "user-sized (partial-agged), re-joined on the SAME user_id "
    "partitioning the groupBy produced (AQE reuses it), then one "
    "distinct-agg — the fact table is scanned twice but shuffled on "
    "one key only.",
    tags=("analytics",),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("cohort_day")
    )
    offset = F.datediff(F.to_date("ts"), F.col("cohort_day")).cast("long")
    return (
        ev.join(first_seen, "user_id")
        .groupBy("cohort_day", offset.alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@query(
    "rolling_7d_active_users",
    oracle="""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
    SELECT days.d,
           count(DISTINCT e.user_id) AS active_7d
    FROM days
    JOIN events e ON CAST(e.ts AS DATE) BETWEEN days.d - 6 AND days.d
    GROUP BY days.d
    """,
    doc="Rolling 7-day distinct active users per day. Sliding-window "
    "COUNT(DISTINCT) can't partial-agg through a frame window, so the "
    "plan broadcasts the tiny day dimension (calendar-bounded) against "
    "the fact table — each event lands in ≤7 day buckets, then one "
    "distinct-agg per day. The fact table is scanned once and never "
    "self-joined; at 100 TB swap the exact distinct for per-day HLL "
    "sketches merged across the 7-day frame (approx_distinct_users "
    "shows the sketch path).",
    tags=("analytics",),
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("e_day"), "user_id"
    )
    days = ev.select(F.col("e_day").alias("d")).distinct()
    return (
        ev.join(
            F.broadcast(days),
            (F.col("e_day") >= F.date_sub(F.col("d"), 6))
            & (F.col("e_day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("active_7d"))
    )


@query(
    "qty_price_covariance_components",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT)
               AS sum_qty_sq,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents,
           CAST(sum(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_qty_price_cents
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Distributed statistics without float drift: the exact integer "
    "moment sums (n, Σx, Σx², Σy, Σxy) that define covariance / "
    "correlation / OLS slope between quantity and price, per return "
    "flag. Each term is per-row integer arithmetic followed by a "
    "partial agg (map-side combine) — summation order can't flip a "
    "bit, unlike sum(double) which diverges between engines. The "
    "driver-side finish (cov = (nΣxy − ΣxΣy)/n²) is O(groups). At "
    "100 TB this is one scan, one tiny shuffle of 5 longs per group.",
    tags=("analytics",),
)
def qty_price_covariance_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qty).alias("sum_qty"),
        F.sum(qty * qty).alias("sum_qty_sq"),
        F.sum(cents).alias("sum_price_cents"),
        F.sum(qty * cents).alias("sum_qty_price_cents"),
    )


@query(
    "event_type_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type, count(*) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
    doc="First-order Markov transition counts over per-user event "
    "sequences (the session-path building block behind funnel and "
    "next-action models). One shuffle on user_id for the lag window "
    "(event_id tiebreak keeps the order total), then a partial agg "
    "onto ≤|types|² keys — the transition matrix is tiny no matter "
    "the corpus size.",
    tags=("analytics",),
)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@query(
    "event_anomaly_zscore",
    oracle="""
    SELECT event_id, user_id, value_cents, z_micros
    FROM (
      SELECT event_id, user_id,
             CAST(round(value * 100) AS BIGINT) AS value_cents,
             CASE WHEN stddev_pop(value) OVER (PARTITION BY user_id) > 0
                  THEN CAST(round(1000000.0 *
                         (value - avg(value) OVER (PARTITION BY user_id))
                         / stddev_pop(value) OVER (PARTITION BY user_id))
                       AS BIGINT)
             END AS z_micros
      FROM events)
    WHERE abs(z_micros) > 2000000
    """,
    doc="Per-user z-score outlier detection: events whose value "
    "deviates more than 2 population-stddevs from that user's mean "
    "(the classic per-entity anomaly screen over telemetry). One "
    "shuffle on user_id for the whole-partition window; the z-score "
    "is rounded to micros BEFORE the threshold compare so the "
    "JVM-vs-DuckDB float summation order cannot flip a boundary row "
    "(single-final-integer-rounding rule, SURVEY §6). Zero-variance "
    "users yield NULL z and are excluded on both sides.",
    tags=("analytics",),
)
def event_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    mean = F.avg("value").over(w)
    sd = F.stddev_pop("value").over(w)
    z = F.round(F.lit(1000000.0) * (F.col("value") - mean) / sd).cast("long")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
            F.when(sd > 0, z).alias("z_micros"),
        )
        .filter(F.abs(F.col("z_micros")) > 2_000_000)
    )


@query(
    "customer_rfm_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             date_diff('day', DATE '1970-01-01', CAST(max(o_orderdate) AS DATE))
                 AS r_days,
             count(*) AS frequency,
             CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS monetary_cents
      FROM orders GROUP BY 1),
    b AS (
      SELECT quantile_cont(r_days, 0.25) AS r1, quantile_cont(r_days, 0.50) AS r2,
             quantile_cont(r_days, 0.75) AS r3,
             quantile_cont(frequency, 0.25) AS f1, quantile_cont(frequency, 0.50) AS f2,
             quantile_cont(frequency, 0.75) AS f3,
             quantile_cont(monetary_cents, 0.25) AS m1,
             quantile_cont(monetary_cents, 0.50) AS m2,
             quantile_cont(monetary_cents, 0.75) AS m3
      FROM base)
    SELECT o_custkey, frequency, monetary_cents, r_quartile, f_quartile,
           m_quartile,
           r_quartile * 100 + f_quartile * 10 + m_quartile AS rfm_code
    FROM (
      SELECT o_custkey,
             CAST(frequency AS BIGINT) AS frequency, monetary_cents,
             CAST(1 + (r_days > r1)::INT + (r_days > r2)::INT
                    + (r_days > r3)::INT AS BIGINT) AS r_quartile,
             CAST(1 + (frequency > f1)::INT + (frequency > f2)::INT
                    + (frequency > f3)::INT AS BIGINT) AS f_quartile,
             CAST(1 + (monetary_cents > m1)::INT + (monetary_cents > m2)::INT
                    + (monetary_cents > m3)::INT AS BIGINT) AS m_quartile
      FROM base, b)
    """,
    doc="RFM (recency / frequency / monetary) customer segmentation: "
    "per-customer last-order day, order count, and lifetime spend, "
    "bucketed into quartiles and fused into the classic 3-digit RFM "
    "code. Deliberately NOT ntile(): a global ntile is a "
    "single-partition window sort (the anti-pattern tests forbid the "
    "shape) — instead the three quartile boundaries are one tiny "
    "exact-percentile aggregate broadcast back over the customer "
    "frame, so the plan is groupBy(custkey) + scalar agg + broadcast "
    "join, every stage partial-aggregatable and skew-free at any "
    "scale. Boundary compares happen on exact integers (days / "
    "counts / cents) against interpolated quantiles, identical in "
    "Spark's percentile() and DuckDB's quantile_cont().",
    tags=("analytics",),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.max(F.to_date("o_orderdate")), F.lit("1970-01-01").cast("date")
        ).alias("r_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice") * 100).cast("long").alias("monetary_cents"),
    )
    bounds = base.agg(
        F.expr("percentile(r_days, 0.25)").alias("r1"),
        F.expr("percentile(r_days, 0.50)").alias("r2"),
        F.expr("percentile(r_days, 0.75)").alias("r3"),
        F.expr("percentile(frequency, 0.25)").alias("f1"),
        F.expr("percentile(frequency, 0.50)").alias("f2"),
        F.expr("percentile(frequency, 0.75)").alias("f3"),
        F.expr("percentile(monetary_cents, 0.25)").alias("m1"),
        F.expr("percentile(monetary_cents, 0.50)").alias("m2"),
        F.expr("percentile(monetary_cents, 0.75)").alias("m3"),
    )

    def quart(col: str, b1: str, b2: str, b3: str):
        return (
            F.lit(1)
            + (F.col(col) > F.col(b1)).cast("int")
            + (F.col(col) > F.col(b2)).cast("int")
            + (F.col(col) > F.col(b3)).cast("int")
        ).cast("long")

    return (
        base.join(F.broadcast(bounds))
        .select(
            "o_custkey",
            F.col("frequency").cast("long").alias("frequency"),
            "monetary_cents",
            quart("r_days", "r1", "r2", "r3").alias("r_quartile"),
            quart("frequency", "f1", "f2", "f3").alias("f_quartile"),
            quart("monetary_cents", "m1", "m2", "m3").alias("m_quartile"),
        )
        .withColumn(
            "rfm_code",
            (
                F.col("r_quartile") * 100
                + F.col("f_quartile") * 10
                + F.col("m_quartile")
            ).cast("long"),
        )
    )


# Explicit HLL geometry: b=10 -> m=1024 registers, 60-bit md5 hash
# (15 hex chars -> fits signed BIGINT on both engines), 50-bit rho
# field. Register sums are EXACT integers (2^(51-M)), so the merge is
# order-independent and the whole sketch is SQL-replayable.
_HLL_B = 10
_HLL_M = 1 << _HLL_B  # 1024
_HLL_WBITS = 60 - _HLL_B  # 50


@query(
    "hll_registers_users",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
      FROM events),
    parts AS (
      SELECT event_type,
             hv // {1 << _HLL_WBITS} AS idx,
             hv % {1 << _HLL_WBITS} AS w
      FROM h),
    regs AS (
      SELECT event_type, idx,
             max(CASE WHEN w = 0 THEN {_HLL_WBITS + 1}
                      ELSE {_HLL_WBITS + 1} - length(bin(w)) END) AS m
      FROM parts GROUP BY 1, 2),
    agg AS (
      SELECT event_type,
             count(*) AS n_used,
             sum(CAST({1 << (_HLL_WBITS + 1)} AS BIGINT) // (2 ** m)) AS z_present
      FROM regs GROUP BY 1)
    SELECT event_type,
           CAST(n_used AS BIGINT) AS n_registers_used,
           CAST(round(
             CASE WHEN raw <= 2.5 * {_HLL_M} AND n_used < {_HLL_M}
                  THEN {_HLL_M} * ln({_HLL_M}.0 / ({_HLL_M} - n_used))
                  ELSE raw END) AS BIGINT) AS hll_estimate
    FROM (
      SELECT event_type, n_used,
             (0.7213 / (1 + 1.079 / {_HLL_M}.0)) * {_HLL_M} * {_HLL_M}
             * {float(1 << (_HLL_WBITS + 1))}
             / (z_present + ({_HLL_M} - n_used) * {float(1 << (_HLL_WBITS + 1))})
                 AS raw
      FROM agg)
    """,
    doc="EXPLICIT HyperLogLog (b=10, m=1024) built in DataFrame "
    "algebra — the construction approx_count_distinct hides: 60-bit "
    "md5 hash splits into a register index (top 10 bits) and a 50-bit "
    "tail whose bit length gives rho; registers are a "
    "(event_type, idx) max-aggregate, i.e. MERGEABLE state of at most "
    "m rows per group no matter the corpus size — union two corpora "
    "by taking register-wise max. The 2^-M harmonic sum is computed "
    "as exact integers scaled by 2^51, so the estimate is "
    "order-independent and the DuckDB oracle replays it bit-for-bit "
    "(the native-sketch twin approx_distinct_users stays "
    "rows-only+pytest). Estimates at sf0.01: within ~3% of exact.",
    tags=("analytics", "sketch"),
)
def hll_registers_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r9: register derivation and the harmonic/linear-counting
    # estimate are factored into _hll_regs / _hll_estimate_cols
    # (defined below) and SHARED with the set-operations query #202 —
    # one seam, two queries, no transcription drift.
    ev = load_table(spark, sf_dir, "events")
    regs = _hll_regs(ev)
    n_used, z_present, est = _hll_estimate_cols()
    return (
        regs.groupBy("event_type")
        .agg(n_used, z_present)
        .select(
            "event_type",
            F.col("n_used").cast("long").alias("n_registers_used"),
            est.alias("hll_estimate"),
        )
    )


@query(
    "order_backlog_timeseries",
    oracle="""
    WITH opens AS (
      SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_opened
      FROM orders GROUP BY 1),
    closes AS (
      SELECT CAST(last_ship AS DATE) AS day, count(*) AS n_closed
      FROM (SELECT l_orderkey, max(l_shipdate) AS last_ship
            FROM lineitem GROUP BY 1)
      GROUP BY 1),
    tl AS (
      SELECT coalesce(o.day, c.day) AS day,
             coalesce(n_opened, 0) AS n_opened,
             coalesce(n_closed, 0) AS n_closed
      FROM opens o FULL OUTER JOIN closes c ON o.day = c.day)
    SELECT day,
           CAST(n_opened AS BIGINT) AS n_opened,
           CAST(n_closed AS BIGINT) AS n_closed,
           CAST(sum(n_opened - n_closed)
                  OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS open_backlog
    FROM tl
    """,
    doc="Order-backlog time series: daily opened count, daily "
    "fully-shipped count (an order closes at its LAST line's ship "
    "date), and the running open-order backlog — the ops-health curve "
    "behind fulfillment-latency dashboards. Scale shape follows "
    "daily_new_users_cumulative: both fact scans collapse to "
    "calendar-day partial aggregates FIRST, so the unpartitioned "
    "cumulative window only ever sorts the ~2.5k-row day dimension, "
    "never fact data; the per-order close date is one partial-agg "
    "max on the natural lineitem key.",
    tags=("analytics",),
)
def order_backlog_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    opens = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_opened"))
    closes = (
        li.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .groupBy(F.to_date("last_ship").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_closed"))
    )
    tl = (
        opens.join(closes, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_opened", F.lit(0)).alias("n_opened"),
            F.coalesce("n_closed", F.lit(0)).alias("n_closed"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return tl.select(
        "day",
        F.col("n_opened").cast("long").alias("n_opened"),
        F.col("n_closed").cast("long").alias("n_closed"),
        F.sum(F.col("n_opened") - F.col("n_closed")).over(w).cast("long").alias(
            "open_backlog"
        ),
    )


_PR_SUPP_OFFSET = 10_000_000  # supplier node id = offset + suppkey


def _pagerank_oracle_sql(damping: float = 0.85) -> str:
    """Unrolled SQL replay of pagerank_micros over the trade graph —
    same discipline as the k-means oracle: every double expression is
    operand-order-identical to the Spark side, rank state is integer
    micros, so 5 rounds replay bit-for-bit."""
    base = int((1.0 - damping) * 1_000_000)
    parts = [
        f"""
    WITH eb AS (
      SELECT DISTINCT o_custkey AS c, {_PR_SUPP_OFFSET} + l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT c AS src, s AS dst FROM eb
          UNION ALL SELECT s AS src, c AS dst FROM eb),
    outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM e
              UNION SELECT DISTINCT dst AS node FROM e),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micros FROM nodes)"""
    ]
    for i in range(1, PAGERANK_ROUNDS + 1):
        parts.append(
            f""",
    c{i} AS (
      SELECT e.dst AS node,
             sum(CAST(floor(rank_micros * 1.0 / outdeg) AS BIGINT)) AS sum_c
      FROM e JOIN outdeg USING (src) JOIN r{i-1} r ON r.node = e.src
      GROUP BY e.dst),
    r{i} AS (
      SELECT n.node,
             CAST({base} + floor({damping} * coalesce(sum_c, 0)) AS BIGINT)
                 AS rank_micros
      FROM nodes n LEFT JOIN c{i} USING (node))"""
        )
    parts.append(f"\n    SELECT node, rank_micros FROM r{PAGERANK_ROUNDS}")
    return "".join(parts)


@query(
    "trade_graph_pagerank",
    oracle=_pagerank_oracle_sql(),
    doc="Fixed-iteration PageRank over the symmetric customer↔supplier "
    "trade graph (edges = distinct order lines, suppliers offset into "
    "their own id space) — the classic iterative-join Spark workload "
    "as a first-class, value-verified operator: integer-micros rank "
    "state makes every round's sums order-independent, so 5 rounds "
    "replay bit-for-bit in the unrolled DuckDB oracle. Per round: one "
    "edge⋈rank join + one partial-agg groupBy(dst); edge list "
    "checkpointed once; rank state is node-sized.",
    tags=("graph", "analytics"),
)
def trade_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.graph import pagerank_micros

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    eb = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            (F.lit(_PR_SUPP_OFFSET) + F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = eb.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        eb.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return pagerank_micros(edges)


@query(
    "join_key_skew_profile",
    oracle="""
    WITH counts AS (
      SELECT user_id, count(*) AS c FROM events GROUP BY 1),
    gstat AS (
      SELECT count(*) AS n_keys,
             CAST(sum(c) AS BIGINT) AS total_rows,
             CAST(sum(c * c) AS BIGINT) AS sumsq
      FROM counts),
    top AS (
      SELECT user_id, c,
             CAST(row_number() OVER (ORDER BY c DESC, user_id ASC) AS BIGINT)
               AS rank
      FROM counts)
    SELECT rank, user_id, CAST(c AS BIGINT) AS n_rows,
           CAST(floor(c * 1000000.0 / total_rows + 0.5) AS BIGINT)
             AS share_micros,
           CAST(n_keys AS BIGINT) AS n_keys,
           total_rows,
           CAST(floor(total_rows * 1.0 * total_rows * 1000000 / sumsq + 0.5)
                AS BIGINT) AS neff_keys_micros
    FROM top CROSS JOIN gstat
    WHERE rank <= 20
    """,
    doc="Join-key skew diagnostic — the profile you run BEFORE "
    "choosing a salt factor or broadcast strategy for a key "
    "(SURVEY §6's salted_hot_key_join is the cure; this is the "
    "thermometer): top-20 hot keys with their row share, plus the "
    "EFFECTIVE key count total^2 / sum(c^2) (inverse Simpson / "
    "participation ratio — 'this key column behaves like N_eff "
    "uniform keys'). No global window and no sort of the corpus: "
    "per-key counts partial-agg, top-20 via TakeOrdered, globals "
    "from one 1-row agg broadcast back. All ratios are integer-"
    "operand doubles, operand-order mirrored.",
    tags=("analytics", "bench"),
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    glob = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("total_rows"),
        F.sum(F.col("c") * F.col("c")).alias("sumsq"),
    )
    top20 = (
        counts.orderBy(F.col("c").desc(), F.col("user_id").asc())
        .limit(20)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), F.col("user_id").asc()))
            .cast("long"),
        )
    )
    share = F.floor(F.col("c") * 1_000_000.0 / F.col("total_rows") + 0.5)
    neff = F.floor(
        F.col("total_rows") * 1.0 * F.col("total_rows") * 1_000_000
        / F.col("sumsq")
        + 0.5
    )
    return top20.crossJoin(F.broadcast(glob)).select(
        "rank",
        "user_id",
        F.col("c").cast("long").alias("n_rows"),
        share.cast("long").alias("share_micros"),
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("total_rows").cast("long").alias("total_rows"),
        neff.cast("long").alias("neff_keys_micros"),
    )


_HIST_BINS = 4096


@query(
    "histogram_value_quantiles",
    oracle=f"""
    WITH stats AS (
      SELECT event_type, min(value) AS lo, max(value) AS hi,
             count(*) AS n
      FROM events GROUP BY 1),
    b AS (
      SELECT e.event_type,
             CASE WHEN s.hi = s.lo THEN 0
                  ELSE least({_HIST_BINS - 1},
                             CAST(floor((e.value - s.lo) * {_HIST_BINS}.0
                                        / (s.hi - s.lo)) AS BIGINT))
             END AS bin
      FROM events e JOIN stats s USING (event_type)),
    c AS (SELECT event_type, bin, count(*) AS n_bin FROM b GROUP BY 1, 2),
    cum AS (
      SELECT event_type, bin,
             sum(n_bin) OVER (PARTITION BY event_type ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM c),
    q AS (
      SELECT t.event_type,
             min(CASE WHEN cum >= ceil(0.5 * n) THEN bin END) AS b50,
             min(CASE WHEN cum >= ceil(0.95 * n) THEN bin END) AS b95
      FROM cum t JOIN stats USING (event_type) GROUP BY 1)
    SELECT s.event_type,
           CAST(round((s.lo + (q.b50 + 1) * ((s.hi - s.lo) / {_HIST_BINS}.0))
                      * 100) AS BIGINT) AS p50_hist_cents,
           CAST(round((s.lo + (q.b95 + 1) * ((s.hi - s.lo) / {_HIST_BINS}.0))
                      * 100) AS BIGINT) AS p95_hist_cents
    FROM stats s JOIN q USING (event_type)
    """,
    doc="Quantiles from an explicit fixed-range histogram sketch — the "
    "deterministic, VALUE-ORACLED twin of the rows-only t-digest "
    f"(#82), the way hll_registers_users twins the native HLL: "
    f"{_HIST_BINS} equi-width bins per group between the group's "
    "min/max, quantile = upper edge of the first bin whose cumulative "
    "count crosses ceil(p*n). Estimate error is bounded by one bin "
    "width of the value RANGE (pytest-pinned vs the exact "
    "percentiles), and unlike t-digest the sketch is a pure integer "
    "count vector: merge = elementwise add, replay = exact SQL. "
    "Scale shape: one broadcast stats dim, one (type, bin) partial "
    "agg (<= types x 4096 rows shuffle), a per-type window over "
    "4096-row partitions, one min(CASE) agg — values never sort "
    "globally, the corpus never shuffles on anything but the "
    "bin-count partial agg.",
    tags=("analytics", "sketch"),
)
def histogram_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.dedup import lineage_cut

    B = _HIST_BINS
    ev = load_table(spark, sf_dir, "events")
    # stats feeds the binning join, the threshold join and the final
    # projection — cut so the corpus aggregates once.
    stats = lineage_cut(
        ev.groupBy("event_type").agg(
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    binned = ev.select("event_type", "value").join(F.broadcast(stats), "event_type")
    bin_col = F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long")).otherwise(
        F.least(
            F.lit(B - 1).cast("long"),
            F.floor(
                (F.col("value") - F.col("lo")) * float(B) / (F.col("hi") - F.col("lo"))
            ),
        )
    )
    counts = (
        binned.withColumn("bin", bin_col)
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n_bin"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = counts.withColumn("cum", F.sum("n_bin").over(w)).join(
        F.broadcast(stats.select("event_type", "n")), "event_type"
    )
    q = cum.groupBy("event_type").agg(
        F.min(F.when(F.col("cum") >= F.ceil(0.5 * F.col("n")), F.col("bin"))).alias(
            "b50"
        ),
        F.min(F.when(F.col("cum") >= F.ceil(0.95 * F.col("n")), F.col("bin"))).alias(
            "b95"
        ),
    )
    width = (F.col("hi") - F.col("lo")) / float(B)
    return stats.join(q, "event_type").select(
        "event_type",
        F.round((F.col("lo") + (F.col("b50") + 1) * width) * 100)
        .cast("long")
        .alias("p50_hist_cents"),
        F.round((F.col("lo") + (F.col("b95") + 1) * width) * 100)
        .cast("long")
        .alias("p95_hist_cents"),
    )


@query(
    "event_robust_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type,
             CAST(round(quantile_cont(value, 0.5) * 100) AS BIGINT)
               AS med_cents
      FROM events GROUP BY 1),
    dev AS (
      SELECT e.event_id, e.event_type,
             abs(CAST(round(e.value * 100) AS BIGINT) - m.med_cents)
               AS dev_cents
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type,
             CAST(round(quantile_cont(dev_cents, 0.5)) AS BIGINT)
               AS mad_cents
      FROM dev GROUP BY 1)
    SELECT d.event_id, d.event_type, d.dev_cents,
           CASE WHEN d.dev_cents * 10000 > 44478 * a.mad_cents
                THEN 1 ELSE 0 END AS outlier
    FROM dev d JOIN mad a USING (event_type)
    """,
    doc="Robust (median/MAD) outlier screen per event_type — the "
    "companion to event_anomaly_zscore that a heavy-tailed 100 TB "
    "telemetry stream actually needs (mean and stddev are themselves "
    "dragged by the outliers they are supposed to find; the median "
    "and MAD have a 50% breakdown point). Flag when "
    "|x − med| > 3·1.4826·MAD (the normal-consistent sigma-hat). "
    "Determinism: the two medians quantize to CENTS-bigint at the "
    "aggregate boundary, so every downstream comparison is PURE "
    "INTEGER (dev·10000 > 44478·mad) — no float ever crosses rows. "
    "Scale shape: two grouped exact percentiles (at 100 TB swap for "
    "#178's histogram sketch — same output contract) + two broadcast "
    "dim joins; the dev frame is deliberately recomputed for its "
    "second consumer — one broadcast-join map pass costs less than "
    "materializing a corpus-sized checkpoint.",
    tags=("analytics",),
)
def event_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)") * 100)
        .cast("long")
        .alias("med_cents")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        F.abs(
            F.round(F.col("value") * 100).cast("long") - F.col("med_cents")
        ).alias("dev_cents"),
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(dev_cents, 0.5)")).cast("long").alias("mad_cents")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_id",
        "event_type",
        "dev_cents",
        F.when(
            F.col("dev_cents") * 10000 > 44478 * F.col("mad_cents"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("outlier"),
    )


@query(
    "orders_daily_gapfill",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1, 2),
    bounds AS (
      SELECT o_orderpriority, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
    cal AS (
      SELECT o_orderpriority,
             CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                         CAST(d1 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds),
    dense AS (
      SELECT c.o_orderpriority, c.d, dy.rev_cents
      FROM cal c LEFT JOIN daily dy USING (o_orderpriority, d))
    SELECT o_orderpriority, d,
           CASE WHEN rev_cents IS NULL THEN 1 ELSE 0 END AS is_gap,
           CAST(last_value(rev_cents IGNORE NULLS) OVER (
                PARTITION BY o_orderpriority ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS filled_rev_cents
    FROM dense
    """,
    doc="Time-series gap-fill with forward fill: per-priority daily "
    "revenue densified onto the full calendar (sequence + explode of "
    "each group's [min, max] date span), missing days flagged and "
    "carried forward with last(ignorenulls) — the resample/ffill "
    "primitive every downstream time-series model needs as input. "
    "Scale shape: the only corpus-sized pass is the partial-agged "
    "groupBy to (priority, day); everything after is calendar-bounded "
    "(groups x days rows, ~12k here, ~36k for a 10-year corpus) "
    "regardless of fact volume, so the per-group ffill window sorts "
    "calendar rows, never events. Per-row cents quantization keeps "
    "the daily sums combine-order independent.",
    tags=("analytics",),
)
def orders_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    daily = (
        od.select(
            "o_orderpriority",
            F.to_date("o_orderdate").alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("o_orderpriority", "d")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    bounds = daily.groupBy("o_orderpriority").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    cal = bounds.select(
        "o_orderpriority",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"),
    )
    dense = cal.join(daily, ["o_orderpriority", "d"], "left")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(
        "o_orderpriority",
        "d",
        F.when(F.col("rev_cents").isNull(), 1).otherwise(0).cast("int").alias("is_gap"),
        F.last("rev_cents", ignorenulls=True).over(w).alias("filled_rev_cents"),
    )


_EVENT_TYPE_BITS = [("click", 0), ("view", 1), ("purchase", 2), ("signup", 3), ("error", 4)]
_TYPE_PAIRS = [
    (a, i, b, j)
    for x, (a, i) in enumerate(_EVENT_TYPE_BITS)
    for b, j in _EVENT_TYPE_BITS[x + 1 :]
]
_PAIR_VALUES_SQL = ", ".join(f"('{a}', {i}, '{b}', {j})" for a, i, b, j in _TYPE_PAIRS)
_TYPE_CASE_SQL = "CASE event_type " + " ".join(
    f"WHEN '{t}' THEN {i}" for t, i in _EVENT_TYPE_BITS[:-1]
) + f" ELSE {_EVENT_TYPE_BITS[-1][1]} END"
_CORE_AUDIENCE_MIN = 16


@query(
    "event_audience_overlap",
    oracle=f"""
    WITH cnt AS (
      SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2),
    m AS (
      SELECT user_id, bit_or(1 << ({_TYPE_CASE_SQL})) AS mask
      FROM cnt WHERE n >= {_CORE_AUDIENCE_MIN} GROUP BY 1),
    p(type_a, bit_a, type_b, bit_b) AS (VALUES {_PAIR_VALUES_SQL})
    SELECT type_a, type_b,
      CAST(sum((mask >> bit_a) & 1) AS BIGINT) AS users_a,
      CAST(sum((mask >> bit_b) & 1) AS BIGINT) AS users_b,
      CAST(sum(((mask >> bit_a) & 1) * ((mask >> bit_b) & 1)) AS BIGINT)
        AS users_both
    FROM m, p GROUP BY 1, 2
    """,
    doc="Audience-overlap matrix via bitmask aggregation: for every "
    "pair of event types, how many 'core' users (>= 16 events of the "
    "type) belong to both audiences. The naive plan self-joins the "
    "fact table on user_id (quadratic in per-user activity); this "
    "one collapses each user to ONE integer bitmask (bit_or of "
    "1 << type_index, a partial-aggregable bit-OR), so set "
    "intersection becomes (mask >> i) & 1 arithmetic against a "
    "10-row broadcast pair dim. Scale shape: two grouped partial "
    "aggs over the corpus (user x type counts, then user masks) -> "
    "|users| mask rows -> broadcast nested-loop against C(5,2) pairs "
    "-> 10 output rows; distinct-users-per-segment-pair at 100 TB "
    "without ever materializing a pair of user sets.",
    tags=("analytics",),
)
def event_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    idx = F.lit(_EVENT_TYPE_BITS[-1][1])
    for t, i in reversed(_EVENT_TYPE_BITS[:-1]):
        idx = F.when(F.col("event_type") == t, i).otherwise(idx)
    cnt = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    masks = (
        cnt.filter(F.col("n") >= _CORE_AUDIENCE_MIN)
        .select("user_id", idx.cast("int").alias("idx"))
        .select("user_id", F.expr("shiftleft(1, idx)").alias("bit"))
        .groupBy("user_id")
        .agg(F.expr("bit_or(bit)").alias("mask"))
    )
    pairs = local_df(spark, 
        _TYPE_PAIRS, "type_a string, bit_a int, type_b string, bit_b int"
    )
    joined = masks.crossJoin(F.broadcast(pairs))
    bit_a = F.expr("shiftright(mask, bit_a) & 1")
    bit_b = F.expr("shiftright(mask, bit_b) & 1")
    return joined.groupBy("type_a", "type_b").agg(
        F.sum(bit_a).alias("users_a"),
        F.sum(bit_b).alias("users_b"),
        F.sum(bit_a * bit_b).alias("users_both"),
    )


# Poisson(1) inverse-CDF thresholds scaled to the md5-15-hex-digit
# integer range [0, 16^15 = 2^60): weight k iff h < floor(P(X<=k)*2^60).
# Precomputed once so NO float ever crosses an engine boundary — both
# sides compare the same integer hash against the same integer literals.
_POISSON_THRESHOLDS = (
    424136118829305344,   # P(X<=0) = e^-1
    848272237658610688,   # P(X<=1)
    1060340297073263360,  # P(X<=2)
    1131029650211480960,  # P(X<=3)
    1148701988496035328,  # P(X<=4)
    1152236456152946176,  # P(X<=5); else weight 6 (capped tail)
)
_BOOT_REPLICATES = 64
_POISSON_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN h < {t} THEN {k}" for k, t in enumerate(_POISSON_THRESHOLDS)
    )
    + f" ELSE {len(_POISSON_THRESHOLDS)} END"
)


@query(
    "revenue_bootstrap_ci",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    reps AS (
      SELECT b.o_orderkey, b.cents, r.r
      FROM base b, (SELECT unnest(range(0, {_BOOT_REPLICATES})) AS r) r),
    hv AS (
      SELECT r, cents,
        ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' ||
                            CAST(r AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM reps),
    boot AS (
      SELECT r, CAST(sum(({_POISSON_CASE_SQL}) * cents) AS BIGINT) AS s
      FROM hv GROUP BY r),
    ranked AS (SELECT s, row_number() OVER (ORDER BY s, r) AS rn FROM boot),
    ci AS (
      SELECT CAST(sum(CASE WHEN rn = 2 THEN s END) AS BIGINT) AS ci_lo_cents,
             CAST(sum(CASE WHEN rn = {_BOOT_REPLICATES - 1} THEN s END)
                  AS BIGINT) AS ci_hi_cents
      FROM ranked),
    pt AS (SELECT CAST(sum(cents) AS BIGINT) AS point_sum_cents FROM base)
    SELECT pt.point_sum_cents, ci.ci_lo_cents, ci.ci_hi_cents,
           {_BOOT_REPLICATES} AS n_replicates
    FROM pt, ci
    """,
    doc="Deterministic Poisson bootstrap CI for total revenue in ONE "
    "pass over the fact table: each (order, replicate) draws a "
    "Poisson(1) resampling weight by inverse-CDF over the md5 integer "
    "hash (the repo's cross-engine hash seam), so the 64 replicate "
    "sums — and hence the 2.5%/97.5% order-statistic CI — are "
    "bit-identical on any engine and any partitioning. This is how a "
    "100 TB pipeline attaches error bars to a metric without a "
    "second data-sized pass or driver-side sampling: the explode(64) "
    "is map-side, the partial agg collapses to 64 x partitions rows "
    "before the only shuffle, and the rank/CI stage runs over 64 "
    "rows. The CI bounds come from integer order statistics "
    "(ranks 2 and 63 of 64), not float percentile interpolation. "
    "Cost lever (measured, BENCH_TREND r9): the md5 seam is ~13x "
    "slower than xxhash64 at 9.6M draws (7.8-10.8 s vs 0.6-0.7 s "
    "warm noop) — md5 buys CROSS-ENGINE replay for the oracle; a "
    "production run that only needs within-run determinism swaps in "
    "xxhash64(o_orderkey, r) % 2^60 with the same thresholds.",
    tags=("analytics",),
)
def revenue_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bootstrap_ci_plan(spark, sf_dir, hash_seam="md5")


def _bootstrap_hash_col(hash_seam: str):
    """Per-(o_orderkey, r) integer draw uniform on [0, 2^60) — the
    seam shared by the two batch CI variants, so \'identical
    expression\' is true by construction. \'md5\' is the
    cross-engine-replayable anchor; \'xxhash64\' the production seam
    (~13x cheaper, no DuckDB replay)."""
    if hash_seam == "md5":
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("o_orderkey").cast("string"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
    if hash_seam == "xxhash64":
        # low 60 bits of the uniform 64-bit hash — uniform on
        # [0, 2^60), the same range the thresholds are scaled to
        return F.xxhash64("o_orderkey", "r").bitwiseAND(F.lit((1 << 60) - 1))
    raise ValueError(f"unknown hash_seam {hash_seam!r}")


def _poisson_weight_col(h):
    """Poisson(1) resampling weight by inverse-CDF over the integer
    draw against the precomputed _POISSON_THRESHOLDS literals."""
    weight = F.lit(len(_POISSON_THRESHOLDS))
    for k, t in reversed(list(enumerate(_POISSON_THRESHOLDS))):
        weight = F.when(h < t, k).otherwise(weight)
    return weight


def _bootstrap_ci_plan(
    spark: SparkSession, sf_dir: str, hash_seam: str
) -> DataFrame:
    """Shared plan for the two bootstrap-CI variants: IDENTICAL stages
    and the SAME `_POISSON_THRESHOLDS` integer literals; only the
    per-(order, replicate) integer hash in [0, 2^60) differs.
    hash_seam='md5' is the cross-engine-replayable anchor (oracled);
    hash_seam='xxhash64' is the production seam — the r9 A/B measured
    md5 at ~13x the CPU of xxhash64 at 9.6M draws, a real cluster-CPU
    multiplier at 100 TB x 64 replicates (VERDICT r9 'What's wrong'
    #2). Threshold sharing is by construction, and the twin pin
    (tests/test_analytics_queries.py) asserts both variants agree on the
    point sum and produce CIs within the bootstrap's own sampling
    error of each other."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    reps = od.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_REPLICATES - 1))).alias("r"),
    )
    hashed = reps.select("r", "cents", _bootstrap_hash_col(hash_seam).alias("h"))
    weight = _poisson_weight_col(F.col("h"))
    boot = (
        hashed.select("r", (weight * F.col("cents")).alias("wc"))
        .groupBy("r")
        .agg(F.sum("wc").alias("s"))
    )
    ranked = boot.select(
        "s", F.row_number().over(Window.orderBy("s", "r")).alias("rn")
    )
    ci = ranked.agg(
        F.sum(F.when(F.col("rn") == 2, F.col("s"))).alias("ci_lo_cents"),
        F.sum(F.when(F.col("rn") == _BOOT_REPLICATES - 1, F.col("s"))).alias(
            "ci_hi_cents"
        ),
    )
    point = od.agg(F.sum("cents").alias("point_sum_cents"))
    return point.crossJoin(F.broadcast(ci)).select(
        "point_sum_cents",
        "ci_lo_cents",
        "ci_hi_cents",
        F.lit(_BOOT_REPLICATES).alias("n_replicates"),
    )


@query(
    "revenue_bootstrap_ci_fast",
    oracle=f"""
    SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS point_sum_cents,
           CAST(1 AS BIGINT) AS ci_ok,
           CAST({_BOOT_REPLICATES} AS BIGINT) AS n_replicates
    FROM orders
    """,
    doc="Production seam of revenue_bootstrap_ci: the SAME one-pass "
    "Poisson-bootstrap plan and the SAME precomputed integer "
    "thresholds (shared helper — sharing is by construction), with "
    "the per-(order, replicate) draw taken from "
    "xxhash64(o_orderkey, r) & (2^60 - 1) instead of the md5 hex "
    "seam. Measured ~13x cheaper at 9.6M draws (BENCH_TREND r9 A/B: "
    "0.6-0.7 s vs 7.8-10.8 s warm noop) — at 100 TB x 64 replicates "
    "the md5 seam is a real cluster-CPU multiplier, so verification "
    "cost is opt-in rather than the default production shape. Still "
    "fully deterministic under any partitioning (the hash is a pure "
    "row function), but the CI BOUNDS have no DuckDB replay — so the "
    "REGISTERED surface (VERDICT r13 task #2) is the reduced "
    "SQL-expressible projection OF THE FULL PLAN: point_sum_cents "
    "(exact replay, identical to the md5 twin's), ci_ok = 1 iff "
    "ci_lo <= ci_hi with both NON-NULL (order statistics at ranks 2 "
    "and 63 materialized and ordered — NULL-poisoned to a mismatch "
    "if any replicate sum went missing), and n_replicates. The "
    "xxhash CI computation still EXECUTES under this projection "
    "(ci_ok depends on both bounds); the full 4-column surface of "
    "_bootstrap_ci_plan is twin-pinned to the md5 anchor "
    "(tests/test_analytics_queries.py).",
    tags=("analytics",),
)
def revenue_bootstrap_ci_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    full = _bootstrap_ci_plan(spark, sf_dir, hash_seam="xxhash64")
    return full.select(
        "point_sum_cents",
        F.when(
            F.col("ci_lo_cents") <= F.col("ci_hi_cents"), F.lit(1)
        ).cast("long").alias("ci_ok"),
        F.col("n_replicates").cast("long").alias("n_replicates"),
    )


@query(
    "orders_pareto_front",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             CAST(o_orderdate AS DATE) AS d,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS days
      FROM orders),
    scr AS (
      SELECT o_orderkey, price_cents, d, days,
             max(days) OVER (ORDER BY -price_cents
                  RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best
      FROM base)
    SELECT o_orderkey, price_cents, d FROM scr WHERE best IS NULL OR days >= best
    """,
    doc="Skyline (Pareto front) over (price, recency): keep every "
    "order not STRICTLY dominated on both axes — the classic "
    "multi-criteria OLAP operator (Borzsony/Kossmann/Stocker, ICDE "
    "2001) expressed as a running max instead of the quadratic "
    "NOT EXISTS: ordered by price descending, a row survives iff its "
    "date is >= the max date of all strictly-pricier rows — >= not >, "
    "so a same-date pricier row does NOT dominate (strict-strict "
    "semantics; a hypothesis tie test caught the > variant silently "
    "implementing weak-on-date dominance, r9) — (integer "
    "cents make 'strictly pricier' an exact RANGE ... 1 PRECEDING "
    "frame — ties never dominate each other). Scale shape: the "
    "skyline-of-skylines identity (skyline(S) = skyline of the union "
    "of per-bucket skylines) turns the global sort into 64 parallel "
    "bucket-local windows over corpus/64 rows each; survivors are "
    "O(log n)-ish, so the exact phase-2 window runs over a frame "
    "bounded by the front size, not the corpus. The oracle keeps the "
    "single global window (oracle-side scale is irrelevant).",
    tags=("analytics",),
)
def orders_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.to_date("o_orderdate").alias("d"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("days"),
        F.pmod(F.hash("o_orderkey"), F.lit(64)).alias("sb"),
    )
    base = base.withColumn("neg", -F.col("price_cents"))
    w1 = (
        Window.partitionBy("sb")
        .orderBy("neg")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    local = base.select(
        "o_orderkey", "price_cents", "d", "days", "neg",
        F.max("days").over(w1).alias("best"),
    ).filter(F.col("best").isNull() | (F.col("days") >= F.col("best")))
    w2 = Window.orderBy("neg").rangeBetween(Window.unboundedPreceding, -1)
    return (
        local.select(
            "o_orderkey", "price_cents", "d", "days", "neg",
            F.max("days").over(w2).alias("best2"),
        )
        .filter(F.col("best2").isNull() | (F.col("days") >= F.col("best2")))
        .select("o_orderkey", "price_cents", "d")
    )


@query(
    "events_asof_tolerance",
    oracle="""
    WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
    SELECT p.event_id AS purchase_id, p.user_id,
           CASE WHEN c.ts >= p.ts - INTERVAL 4 HOUR THEN c.event_id END
             AS attributed_click_id,
           CASE WHEN c.ts >= p.ts - INTERVAL 4 HOUR THEN c.ts END
             AS attributed_ts,
           CASE WHEN c.ts >= p.ts - INTERVAL 4 HOUR THEN 1 ELSE 0 END
             AS attributed
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="As-of join with a bounded lookback tolerance (pandas "
    "merge_asof's `tolerance`, kdb wj's window): each purchase "
    "attributes to the user's most recent prior click ONLY if it is "
    "at most 4 hours old, else stays unattributed — the standard "
    "attribution-window rule. Because the as-of match is the MOST "
    "RECENT prior row, 'match older than horizon' implies no prior "
    "row is in the horizon, so the tolerance is an exact map-side "
    "post-filter on the one-shuffle union-marker as-of join "
    "(operators/temporal.py) — no inequality-join explosion, no "
    "second pass, same 100 TB shape as #41.",
    tags=("temporal",),
)
def events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    out = asof_join(
        purchases, clicks, keys=["user_id"], ts_col="ts",
        right_value_cols=["event_id", "ts"],
    )
    in_window = F.col("asof_ts") >= F.col("ts") - F.expr("INTERVAL 4 HOURS")
    return out.select(
        "purchase_id",
        "user_id",
        F.when(in_window, F.col("asof_event_id")).alias("attributed_click_id"),
        F.when(in_window, F.col("asof_ts")).alias("attributed_ts"),
        F.when(in_window, F.lit(1)).otherwise(F.lit(0)).cast("int").alias("attributed"),
    )


_EWMA_TAPS = 16  # dyadic kernel length; tail weight 2^-16 truncated by definition
_EWMA_TERMS_SQL = " + ".join(
    (
        f"filled * {1 << (_EWMA_TAPS - 1)}"
        if lag == 0
        else (
            f"coalesce(lag(filled, {lag}) OVER "
            "(PARTITION BY o_orderpriority ORDER BY d), 0) "
            f"* {1 << (_EWMA_TAPS - 1 - lag)}"
        )
    )
    for lag in range(_EWMA_TAPS)
)


@query(
    "orders_daily_ewma",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1, 2),
    bounds AS (
      SELECT o_orderpriority, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
    cal AS (
      SELECT o_orderpriority,
             CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                         CAST(d1 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds),
    dense AS (
      SELECT c.o_orderpriority, c.d,
             coalesce(CAST(last_value(dy.rev_cents IGNORE NULLS) OVER (
                  PARTITION BY c.o_orderpriority ORDER BY c.d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT),
               0) AS filled
      FROM cal c LEFT JOIN daily dy USING (o_orderpriority, d))
    SELECT o_orderpriority, d,
           CAST({_EWMA_TERMS_SQL} AS BIGINT) AS ewma_x65536_cents
    FROM dense
    """,
    doc="Exponentially-weighted moving average (alpha = 1/2) of the "
    "gap-filled daily revenue — the trend-smoothing stage a "
    "monitoring dashboard runs over the resampled series. The kernel "
    "is DYADIC: 16 taps with weights 2^15..2^0 over the zero-padded "
    "forward-filled series, so the whole smoother is pure BIGINT "
    "arithmetic scaled by 2^16 — bit-identical on any engine and any "
    "partitioning with no float crossing rows, and the truncation at "
    "16 taps (tail weight 2^-16) is part of the metric's definition, "
    "not an approximation bug. Scale shape: same as "
    "orders_daily_gapfill — one partial-agged corpus shuffle to "
    "(priority, day), then calendar-bounded windows — the 16 lag taps "
    "fuse into ONE Window node stacked directly on the ffill window "
    "over the same partition+sort (one Sort, zero extra shuffles; "
    "pinned). At 100 TB the smoother's cost is the daily rollup, "
    "never the series.",
    tags=("analytics",),
)
def orders_daily_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    daily = (
        od.select(
            "o_orderpriority",
            F.to_date("o_orderdate").alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("o_orderpriority", "d")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    bounds = daily.groupBy("o_orderpriority").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    cal = bounds.select(
        "o_orderpriority",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"),
    )
    wff = (
        Window.partitionBy("o_orderpriority")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dense = cal.join(daily, ["o_orderpriority", "d"], "left").select(
        "o_orderpriority",
        "d",
        F.coalesce(F.last("rev_cents", ignorenulls=True).over(wff), F.lit(0)).alias(
            "filled"
        ),
    )
    wl = Window.partitionBy("o_orderpriority").orderBy("d")
    ewma = F.col("filled") * (1 << (_EWMA_TAPS - 1))
    for lag in range(1, _EWMA_TAPS):
        ewma = ewma + F.coalesce(F.lag("filled", lag).over(wl), F.lit(0)) * (
            1 << (_EWMA_TAPS - 1 - lag)
        )
    return dense.select(
        "o_orderpriority", "d", ewma.cast("long").alias("ewma_x65536_cents")
    )


@query(
    "part_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey AS p,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev),
    cum AS (
      SELECT p, cents,
             CAST(sum(cents) OVER (ORDER BY cents DESC, p
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS c
      FROM rev)
    SELECT p AS p_partkey, cents AS rev_cents, c AS cum_cents,
           CASE WHEN c * 100 <= t * 80 THEN 'A'
                WHEN c * 100 <= t * 95 THEN 'B' ELSE 'C' END AS abc_class
    FROM cum, tot
    """,
    doc="ABC inventory classification (the 80/15/5 cumulative-revenue "
    "Pareto classes) — a DISTRIBUTED PREFIX SUM, the one aggregate "
    "shape the repo had not yet shown scale-safe. The oracle's plain "
    "global running sum would put the whole parts frame on one "
    "reducer; instead the plan range-buckets parts by the decimal "
    "DIGIT COUNT of their revenue cents (length of the integer "
    "string — format-stable, and digits(cents) is monotone in cents, "
    "so global order (cents DESC, p) == (digits DESC, cents DESC, "
    "p)): phase 1 computes per-digit-band totals (<=19 rows), each "
    "row's offset = the broadcast sum of strictly-higher bands; "
    "phase 2 runs the running sum per band partition and adds the "
    "offset — every window partition holds one revenue decade, never "
    "the full frame. Class cuts are integer cross-multiplies "
    "(c*100 <= t*80) against the 1-row broadcast total — no float, "
    "no percentile. Skew note: a decade band CAN be populous (this "
    "substrate's uniform prices put most parts in one decade); the "
    "bands bound the sort by VALUE RANGE, and a hot band subdivides "
    "by more digits of the same string (same trick, finer bands) — "
    "documented lever, same family as the salted top-K.",
    tags=("analytics",),
)
def part_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.select(
            F.col("l_partkey").alias("p"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("long")
            .alias("c0"),
        )
        .groupBy("p")
        .agg(F.sum("c0").alias("cents"))
        .withColumn("digits", F.length(F.col("cents").cast("string")))
    )
    from utility_service_areas_spark.operators.dedup import lineage_cut

    rev = lineage_cut(rev)  # consumed by band totals AND the window pass
    bands = rev.groupBy("digits").agg(F.sum("cents").alias("band_cents"))
    wb = (
        Window.orderBy(F.col("digits").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # <=19 rows: offset = total of all strictly-higher decades
    offsets = bands.select(
        "digits",
        F.coalesce(F.sum("band_cents").over(wb), F.lit(0)).alias("offset"),
    )
    tot = rev.agg(F.sum("cents").alias("t"))
    wband = (
        Window.partitionBy("digits")
        .orderBy(F.col("cents").desc(), F.col("p"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        rev.join(F.broadcast(offsets), "digits")
        .select(
            "p",
            "cents",
            (F.sum("cents").over(wband) + F.col("offset")).alias("c"),
        )
        .crossJoin(F.broadcast(tot))
    )
    return cum.select(
        F.col("p").alias("p_partkey"),
        F.col("cents").alias("rev_cents"),
        F.col("c").cast("long").alias("cum_cents"),
        F.when(F.col("c") * 100 <= F.col("t") * 80, "A")
        .when(F.col("c") * 100 <= F.col("t") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


def hourly_event_rollup(df: DataFrame) -> DataFrame:
    """The (event_type, hour) count rollup used by
    events_burst_detection."""
    return (
        df.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


@query(
    "events_burst_detection",
    oracle="""
    WITH m AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt
      FROM events GROUP BY 1, 2),
    b AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM m GROUP BY 1),
    cal AS (
      SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM b),
    dense AS (
      SELECT c.event_type, c.h, coalesce(m.cnt, 0) AS cnt
      FROM cal c LEFT JOIN m USING (event_type, h)),
    w AS (
      SELECT event_type, h, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY h
                  ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trail,
             count(*) OVER (PARTITION BY event_type ORDER BY h
                  ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS n_trail
      FROM dense)
    SELECT event_type, h, CAST(cnt AS BIGINT) AS cnt,
           CAST(coalesce(trail, 0) AS BIGINT) AS trail_cnt,
           CAST(n_trail AS BIGINT) AS n_trail,
           CASE WHEN n_trail >= 12 AND cnt * n_trail * 10 > 15 * trail
                THEN 1 ELSE 0 END AS burst
    FROM w
    """,
    doc="Rate-burst detection per event type: an hour is a burst when "
    "its count exceeds 1.5x the trailing-24-CALENDAR-hour average "
    "(>=12 elapsed hours of warmup). The sparse hourly rollup "
    "densifies onto each type's full hour calendar first (zero-fill, "
    "the gapfill pattern) — r9 code-review fix: a ROWS frame over the "
    "sparse rollup silently reached back DAYS across quiet gaps and "
    "missed genuine bursts after idle periods; on the dense frame "
    "ROWS -24..-1 IS the trailing 24 hours. The burst test is the "
    "integer cross-multiply cnt*n_trail*10 > 15*trail — no float "
    "crosses rows. Scale shape: one partial-agged corpus shuffle to "
    "the rollup; the calendar explode and windows are bounded by "
    "types x hours, never events.",
    tags=("analytics",),
)
def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = hourly_event_rollup(ev)
    b = m.groupBy("event_type").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    cal = b.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
    )
    dense = cal.join(m, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    wt = Window.partitionBy("event_type").orderBy("h").rowsBetween(-24, -1)
    w = dense.select(
        "event_type",
        "h",
        F.col("cnt").cast("long").alias("cnt"),
        F.coalesce(F.sum("cnt").over(wt), F.lit(0)).cast("long").alias("trail_cnt"),
        F.count(F.lit(1)).over(wt).cast("long").alias("n_trail"),
    )
    return w.select(
        "event_type",
        "h",
        "cnt",
        "trail_cnt",
        "n_trail",
        F.when(
            (F.col("n_trail") >= 12)
            & (F.col("cnt") * F.col("n_trail") * 10 > 15 * F.col("trail_cnt")),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("burst"),
    )


@query(
    "nation_supplier_hhi",
    oracle="""
    WITH s AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
             CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2),
    tot AS (
      SELECT nation, CAST(sum(cents) AS BIGINT) AS t,
             count(*) AS n_suppliers
      FROM s GROUP BY 1),
    sh AS (
      SELECT s.nation, s.supp, (s.cents * 1000000) // t.t AS share_micros,
             t.n_suppliers
      FROM s JOIN tot t USING (nation))
    SELECT nation, CAST(max(n_suppliers) AS BIGINT) AS n_suppliers,
           CAST(sum(share_micros * share_micros) // 1000000 AS BIGINT)
             AS hhi_micros
    FROM sh GROUP BY nation
    """,
    doc="Herfindahl-Hirschman concentration index of supplier revenue "
    "per nation — the market-concentration metric (10000 x sum of "
    "squared shares, here in micros: 1e6 = monopoly, 1e6/n = perfect "
    "competition). Shares quantize to integer micros BEFORE squaring "
    "(share = cents*1e6 div total, so share^2 <= 1e12 never "
    "overflows, unlike squaring raw cents), making the index "
    "bit-identical cross-engine by integer floor-division definition. "
    "Scale shape: one fact-side partial agg to (nation, supplier), a "
    "nation-totals partial agg, a broadcast totals join, and a "
    "nation-keyed final agg — the fact table shuffles once.",
    tags=("analytics",),
)
def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    s = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .select(
            F.col("s_nationkey").alias("nation"),
            F.col("l_suppkey").alias("supp"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("long")
            .alias("c0"),
        )
        .groupBy("nation", "supp")
        .agg(F.sum("c0").alias("cents"))
    )
    from utility_service_areas_spark.operators.dedup import lineage_cut

    s = lineage_cut(s)  # consumed by totals AND shares
    tot = s.groupBy("nation").agg(
        F.sum("cents").alias("t"), F.count(F.lit(1)).alias("n_suppliers")
    )
    sh = s.join(F.broadcast(tot), "nation").select(
        "nation",
        "n_suppliers",
        F.expr("cents * 1000000 div t").alias("share_micros"),
    )
    return sh.groupBy("nation").agg(
        F.max("n_suppliers").cast("long").alias("n_suppliers"),
        F.expr("CAST(sum(share_micros * share_micros) div 1000000 AS BIGINT)").alias(
            "hhi_micros"
        ),
    )


@query(
    "signup_to_purchase_latency",
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS s,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
      FROM events GROUP BY 1),
    lat AS (
      SELECT CAST(date_diff('second', s, p) AS BIGINT) AS sec
      FROM f WHERE s IS NOT NULL AND p IS NOT NULL AND p >= s)
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           CAST(round(quantile_cont(sec, 0.25)) AS BIGINT) AS p25_sec,
           CAST(round(quantile_cont(sec, 0.5)) AS BIGINT) AS p50_sec,
           CAST(round(quantile_cont(sec, 0.75)) AS BIGINT) AS p75_sec,
           CAST(round(quantile_cont(sec, 0.9)) AS BIGINT) AS p90_sec
    FROM lat
    """,
    doc="Conversion-latency quartiles: seconds from a user's first "
    "signup to their first purchase (users converting before signing "
    "up are excluded as data noise), the activation-funnel timing "
    "metric. Latencies are integer whole-second boundary counts "
    "(unix_timestamp truncation == date_diff('second') for positive "
    "spans), percentiles interpolate over integers and round to "
    "BIGINT — the established percentile seam. Scale shape: the "
    "corpus collapses to per-user first-timestamps in ONE "
    "partial-agged shuffle (conditional min — no filter-join, no "
    "second scan); the percentile runs over converted users only.",
    tags=("analytics",),
)
def signup_to_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
    )
    lat = f.filter(
        F.col("s").isNotNull() & F.col("p").isNotNull() & (F.col("p") >= F.col("s"))
    ).select(
        (F.unix_timestamp("p") - F.unix_timestamp("s")).cast("long").alias("sec")
    )
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.expr("percentile(sec, 0.25)")).cast("long").alias("p25_sec"),
        F.round(F.expr("percentile(sec, 0.5)")).cast("long").alias("p50_sec"),
        F.round(F.expr("percentile(sec, 0.75)")).cast("long").alias("p75_sec"),
        F.round(F.expr("percentile(sec, 0.9)")).cast("long").alias("p90_sec"),
    )


@query(
    "customer_k_anonymity",
    oracle="""
    SELECT c_mktsegment, c_nationkey, count(*) AS n,
           CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS at_risk
    FROM customer GROUP BY 1, 2
    """,
    doc="k-anonymity risk profile over the (mktsegment, nationkey) "
    "quasi-identifier pair: equivalence-class sizes with a k<5 risk "
    "flag — the privacy audit published alongside the GDPR "
    "deletion-cascade manifest (#156) before a dataset leaves the "
    "curated zone; any at-risk class must be generalized or "
    "suppressed. ONE partial-aggregated groupBy whose key space is "
    "the quasi-identifier domain (segments x nations), never the "
    "row count.",
    tags=("etl",),
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    return cu.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.when(F.count(F.lit(1)) < 5, 1).otherwise(0).cast("int").alias("at_risk"),
    )


def _hll_regs(df: DataFrame) -> DataFrame:
    """(event_type, idx, m) HLL registers — the mergeable state of
    #134 factored out so the set-operations query (#202) unions the
    SAME registers (register-wise max) instead of re-deriving them."""
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    wbits = _HLL_WBITS
    parts = df.select(
        "event_type",
        F.shiftrightunsigned(hv, wbits).alias("idx"),
        (hv % F.lit(1 << wbits)).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(F.col("w")))
    )
    return parts.groupBy("event_type", "idx").agg(F.max(rho).alias("m"))


def _hll_estimate_cols() -> tuple:
    """(n_used agg, z_present agg, est expression over them) — the
    harmonic estimate + linear-counting correction of #134, shared
    with the set-operations query."""
    two51 = 1 << (_HLL_WBITS + 1)
    n_used = F.count(F.lit(1)).alias("n_used")
    z_present = F.sum(
        (F.lit(two51) / F.pow(F.lit(2.0), F.col("m"))).cast("long")
    ).alias("z_present")
    alpha = 0.7213 / (1 + 1.079 / float(_HLL_M))
    raw = (
        F.lit(alpha)
        * _HLL_M
        * _HLL_M
        * float(two51)
        / (F.col("z_present") + (_HLL_M - F.col("n_used")) * float(two51))
    )
    est = F.round(
        F.when(
            (raw <= 2.5 * _HLL_M) & (F.col("n_used") < _HLL_M),
            _HLL_M * F.log(float(_HLL_M) / (_HLL_M - F.col("n_used"))),
        ).otherwise(raw)
    ).cast("long")
    return n_used, z_present, est


_HLL_EST_SQL = """
      SELECT {key},
             CAST(round(
               CASE WHEN raw <= 2.5 * {m} AND n_used < {m}
                    THEN {m} * ln({m}.0 / ({m} - n_used))
                    ELSE raw END) AS BIGINT) AS est
      FROM (
        SELECT {key}, n_used,
               (0.7213 / (1 + 1.079 / {m}.0)) * {m} * {m} * {two51}
               / (z_present + ({m} - n_used) * {two51}) AS raw
        FROM (
          SELECT {key}, count(*) AS n_used,
                 sum(CAST({itwo51} AS BIGINT) // (2 ** mm)) AS z_present
          FROM {regs} GROUP BY {key}))
"""


@query(
    "hll_audience_overlap",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
      FROM events),
    parts AS (
      SELECT event_type,
             hv // {1 << _HLL_WBITS} AS idx,
             hv % {1 << _HLL_WBITS} AS w
      FROM h),
    regs AS (
      SELECT event_type, idx,
             max(CASE WHEN w = 0 THEN {_HLL_WBITS + 1}
                      ELSE {_HLL_WBITS + 1} - length(bin(w)) END) AS mm
      FROM parts GROUP BY 1, 2),
    p(type_a, type_b) AS (VALUES {", ".join(f"('{a}', '{b}')" for a, _, b, _ in _TYPE_PAIRS)}),
    uregs AS (
      SELECT p.type_a, p.type_b, r.idx, max(r.mm) AS mm
      FROM p JOIN regs r ON r.event_type IN (p.type_a, p.type_b)
      GROUP BY 1, 2, 3),
    test AS ({_HLL_EST_SQL.format(key="event_type", m=_HLL_M,
             two51=float(1 << (_HLL_WBITS + 1)),
             itwo51=1 << (_HLL_WBITS + 1), regs="regs")}),
    uest AS ({_HLL_EST_SQL.format(key="type_a, type_b", m=_HLL_M,
             two51=float(1 << (_HLL_WBITS + 1)),
             itwo51=1 << (_HLL_WBITS + 1), regs="uregs")})
    SELECT p.type_a, p.type_b,
           ta.est AS hll_a, tb.est AS hll_b, u.est AS hll_union,
           CAST(greatest(0, ta.est + tb.est - u.est) AS BIGINT)
             AS hll_intersection
    FROM p JOIN test ta ON ta.event_type = p.type_a
           JOIN test tb ON tb.event_type = p.type_b
           JOIN uest u USING (type_a, type_b)
    """,
    doc="HLL set operations — the MERGEABLE-sketch twin of the exact "
    "bitmask overlap #181: per event-type pair, distinct-user "
    "estimates for A, B, A∪B (union = register-wise MAX of the two "
    "types' registers — the defining mergeability of HLL state; at "
    "100 TB these registers arrive pre-merged from every partition/ "
    "day/datacenter) and A∩B by inclusion-exclusion, clamped at 0. "
    "Registers and harmonic sums are the #134 value-oracled seams "
    "(exact integers scaled 2^51); the union estimate reuses the "
    "SAME register frame, never re-scans users. Sketch overlap vs "
    "#181's exact counts is the intersection's known weakness "
    "(inclusion-exclusion compounds three estimates' errors) — "
    "publishing both queries side by side is the honest design. "
    "Scale shape: one corpus-sized grouped max (the registers, "
    "<= types x 1024 rows), then ALL set algebra runs on register "
    "rows.",
    tags=("analytics", "sketch"),
)
def hll_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.dedup import lineage_cut

    ev = load_table(spark, sf_dir, "events")
    regs = lineage_cut(_hll_regs(ev))  # per-type ests AND pair unions
    n_used, z_present, est = _hll_estimate_cols()
    tests = regs.groupBy("event_type").agg(n_used, z_present).select(
        "event_type", est.alias("est")
    )
    pairs = local_df(spark, 
        [(a, b) for a, _, b, _ in _TYPE_PAIRS], "type_a string, type_b string"
    )
    uregs = (
        pairs.join(
            regs,
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "idx")
        .agg(F.max("m").alias("m"))
    )
    uest = uregs.groupBy("type_a", "type_b").agg(n_used, z_present).select(
        "type_a", "type_b", est.alias("uest")
    )
    ta = tests.select(F.col("event_type").alias("type_a"), F.col("est").alias("hll_a"))
    tb = tests.select(F.col("event_type").alias("type_b"), F.col("est").alias("hll_b"))
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .join(F.broadcast(uest), ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "hll_a",
            "hll_b",
            F.col("uest").alias("hll_union"),
            F.greatest(
                F.lit(0), F.col("hll_a") + F.col("hll_b") - F.col("uest")
            )
            .cast("long")
            .alias("hll_intersection"),
        )
    )


@query(
    "orders_winsorized_stats",
    oracle="""
    WITH cut AS (
      SELECT o_orderpriority,
             CAST(round(quantile_cont(o_totalprice, 0.05) * 100) AS BIGINT)
               AS lo_cents,
             CAST(round(quantile_cont(o_totalprice, 0.95) * 100) AS BIGINT)
               AS hi_cents
      FROM orders GROUP BY 1)
    SELECT o.o_orderpriority,
           count(*) AS n,
           CAST(sum(least(greatest(CAST(round(o.o_totalprice * 100) AS BIGINT),
                                   c.lo_cents), c.hi_cents)) AS BIGINT)
             AS winsorized_sum_cents,
           CAST(sum(CASE WHEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                              < c.lo_cents
                          OR CAST(round(o.o_totalprice * 100) AS BIGINT)
                              > c.hi_cents THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped
    FROM orders o JOIN cut c USING (o_orderpriority)
    GROUP BY 1
    """,
    doc="Winsorized revenue statistics per priority: clip each order "
    "at its group's P5/P95 (quantized to cents-bigint at the "
    "aggregate boundary, so the clip and the sum are pure integer) "
    "and report the robust total + how many rows the clip touched — "
    "the third member of the robust-stats family next to the z-score "
    "(#130) and median/MAD (#179): winsorization keeps the SUM "
    "meaningful under outliers where trimming would bias the "
    "denominator. Scale shape: one grouped exact-percentile pass "
    "(swap in #178's histogram sketch at 100 TB — same contract) "
    "producing a groups-sized cutoff dim, broadcast back onto one "
    "corpus pass with a partial-agged group fold.",
    tags=("analytics",),
)
def orders_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    cut = od.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.05)") * 100)
        .cast("long")
        .alias("lo_cents"),
        F.round(F.expr("percentile(o_totalprice, 0.95)") * 100)
        .cast("long")
        .alias("hi_cents"),
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    joined = od.join(F.broadcast(cut), "o_orderpriority").select(
        "o_orderpriority",
        cents.alias("cents"),
        "lo_cents",
        "hi_cents",
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.least(F.greatest(F.col("cents"), F.col("lo_cents")), F.col("hi_cents"))
        )
        .cast("long")
        .alias("winsorized_sum_cents"),
        F.sum(
            F.when(
                (F.col("cents") < F.col("lo_cents"))
                | (F.col("cents") > F.col("hi_cents")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_clipped"),
    )


# ---------------------------------------------------------------------------
# KMV / theta sketches (r11): the fourth mergeable-sketch family
# (HLL #134, t-digest #108, CMS #166, histogram #178) — and the only
# one whose SET INTERSECTION is native (HLL #202 must go through
# inclusion-exclusion, whose variance explodes for small overlaps).
# The sketch state is the k smallest DISTINCT hash values per group;
# unlike HLL registers it is fully SQL-expressible, so both queries
# carry real DuckDB value oracles — no rows-only carve-out needed.

_KMV_K = 64  # sketch size: RSE ~ 1/sqrt(k-2) ~ 13%
_KMV_SALT = 32  # phase-1 fan-out of the salted min-k (domain_quota pattern)
_KMV_SCALE = 1 << 60  # md5 15-hex-char integer seam domain [0, 2^60)
# (k-1) * 2^60 as a float literal: 63 needs 6 mantissa bits, so the
# product is EXACTLY representable; the estimate is then ONE IEEE
# division + round on both engines (correctly rounded => identical),
# never a cross-row float sum.
_KMV_NUM = float((_KMV_K - 1) * _KMV_SCALE)


def _kmv_hash_col(col_name: str):
    """The md5 integer-hash seam over [0, 2^60) — the ONE Spark
    expression mirroring DuckDB's ('0x'||substr(md5(x),1,15))::BIGINT.
    Shared by the KMV sketches, shard_zonemap_prune and
    dataset_split_assign, so every consumer hashes identically by
    construction."""
    return F.conv(
        F.substring(F.md5(F.col(col_name).cast("string")), 1, 15), 16, 10
    ).cast("long")


def _kmv_sketch(df: DataFrame, key: str, hash_col: str) -> DataFrame:
    """(key, hv, rk<=k) k-minimum-values sketch rows. Scale shape: the
    salted two-phase min-k of domain_quota_sample (#128) — phase 1
    ranks within (key, hv%SALT) so no single sort ever sees a full
    group, phase 2 ranks the <= k*SALT survivors per key. hv is
    DISTINCT before ranking (KMV is a set sketch), which also makes
    ORDER BY hv a total order — no tiebreak needed."""
    hv = _kmv_hash_col(hash_col)
    distinct = df.select(F.col(key), hv.alias("hv")).distinct()
    salted = distinct.withColumn("s", F.pmod(F.col("hv"), F.lit(_KMV_SALT)))
    w1 = Window.partitionBy(key, "s").orderBy("hv")
    pre = salted.withColumn("r1", F.row_number().over(w1)).filter(
        F.col("r1") <= _KMV_K
    )
    w2 = Window.partitionBy(key).orderBy("hv")
    return (
        pre.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _KMV_K)
        .select(key, "hv", "rk")
    )


_KMV_HV_SQL = "('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT"

_KMV_SKETCH_SQL = f"""
    h AS (SELECT DISTINCT o_orderpriority AS prio, {_KMV_HV_SQL} AS hv
          FROM orders),
    r AS (SELECT prio, hv,
                 row_number() OVER (PARTITION BY prio ORDER BY hv) AS rk
          FROM h),
    sk AS (SELECT prio, hv, rk FROM r WHERE rk <= {_KMV_K}),
    st AS (SELECT prio, CAST(count(*) AS BIGINT) AS n_sketch,
                  CAST(max(hv) AS BIGINT) AS sketch_max
           FROM sk GROUP BY prio)
"""


@query(
    "kmv_distinct_customers",
    oracle=f"""
    WITH {_KMV_SKETCH_SQL}
    SELECT prio AS o_orderpriority, n_sketch, sketch_max,
           CAST(CASE WHEN n_sketch < {_KMV_K} THEN n_sketch
                ELSE CAST(round({_KMV_NUM!r} / CAST(sketch_max AS DOUBLE))
                          AS BIGINT) END AS BIGINT) AS kmv_estimate
    FROM st
    """,
    doc=f"K-minimum-values distinct-count sketch (Bar-Yossef et al. "
    "2002; the Theta-sketch base): per order priority, keep the "
    f"{_KMV_K} smallest distinct md5-seam hashes of o_custkey; "
    f"estimate = (k-1)*2^60 / kth_min (exact n when the group has "
    f"fewer than k distinct values). The sketch is MERGEABLE (min-k "
    "of a union = min-k over partial min-k sets) and, unlike the HLL "
    "registers of #134, supports native intersection (#211). Scale "
    "shape: one distinct shuffle on (prio, hv), then the salted "
    "two-phase min-k of #128 — phase 1 ranks within (prio, hv mod "
    f"{_KMV_SALT}) so no sort sees a full group, phase 2 ranks <= "
    f"k*{_KMV_SALT} survivors; estimate arithmetic is ONE exactly-"
    "representable float literal divided by the kth hash (IEEE "
    "division is correctly rounded on both engines), never a "
    "cross-row float sum.",
    tags=("analytics", "sketch"),
)
def kmv_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    sk = _kmv_sketch(orders, "o_orderpriority", "o_custkey")
    st = sk.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_sketch"),
        F.max("hv").alias("sketch_max"),
    )
    est = F.when(F.col("n_sketch") < _KMV_K, F.col("n_sketch")).otherwise(
        F.round(F.lit(_KMV_NUM) / F.col("sketch_max").cast("double")).cast("long")
    )
    return st.select(
        "o_orderpriority",
        "n_sketch",
        "sketch_max",
        est.cast("long").alias("kmv_estimate"),
    )


@query(
    "kmv_customer_overlap",
    oracle=f"""
    WITH {_KMV_SKETCH_SQL},
    th AS (SELECT prio, n_sketch,
                  CASE WHEN n_sketch < {_KMV_K}
                       THEN {_KMV_SCALE} ELSE sketch_max END AS theta
           FROM st),
    pairs AS (SELECT a.prio AS prio_a, b.prio AS prio_b,
                     least(a.theta, b.theta) AS theta
              FROM th a, th b WHERE a.prio < b.prio),
    common AS (SELECT p.prio_a, p.prio_b,
                      CAST(count(*) AS BIGINT) AS n_common
               FROM pairs p
               JOIN sk x ON x.prio = p.prio_a
               JOIN sk y ON y.prio = p.prio_b AND y.hv = x.hv
               WHERE x.hv < p.theta
               GROUP BY 1, 2)
    SELECT p.prio_a, p.prio_b,
           CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
           CAST(p.theta AS BIGINT) AS theta,
           CAST(round((CAST(coalesce(c.n_common, 0) AS DOUBLE)
                       * {float(_KMV_SCALE)!r})
                      / CAST(p.theta AS DOUBLE)) AS BIGINT)
               AS intersection_estimate
    FROM pairs p LEFT JOIN common c
      ON c.prio_a = p.prio_a AND c.prio_b = p.prio_b
    """,
    doc="Theta-sketch set intersection over the #210 KMV sketches: for "
    "every priority pair, theta = min of the two sketch thresholds "
    "(a non-full sketch holds its WHOLE set, so its theta is the full "
    "hash domain and the estimate degrades to exact), D = common hash "
    "values strictly below theta, estimate = D * 2^60 / theta. This "
    "is the operation HLL fundamentally lacks: #202's inclusion-"
    "exclusion variance scales with the UNION size, theta-intersection "
    "variance with the intersection itself (Dasgupta et al. 2016, the "
    "DataSketches theta model). Scale shape: everything after the "
    "shared sketch build (lineage-cut — thresholds AND both join "
    "sides consume it) is arithmetic on <= 5*k sketch rows: a 10-row "
    "pair frame joins two k-row sides; the float step is one exact "
    "product and one IEEE division per pair, identical cross-engine.",
    tags=("analytics", "sketch"),
)
def kmv_customer_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.dedup import lineage_cut

    orders = load_table(spark, sf_dir, "orders")
    sk = lineage_cut(_kmv_sketch(orders, "o_orderpriority", "o_custkey"))
    th = sk.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_sketch"), F.max("hv").alias("sketch_max")
    ).select(
        F.col("o_orderpriority").alias("prio"),
        F.when(F.col("n_sketch") < _KMV_K, F.lit(_KMV_SCALE))
        .otherwise(F.col("sketch_max"))
        .alias("theta"),
    )
    pairs = (
        th.alias("a")
        .join(th.alias("b"), F.col("a.prio") < F.col("b.prio"))
        .select(
            F.col("a.prio").alias("prio_a"),
            F.col("b.prio").alias("prio_b"),
            F.least(F.col("a.theta"), F.col("b.theta")).alias("theta"),
        )
    )
    common = (
        pairs.alias("p")
        .join(
            sk.select(F.col("o_orderpriority").alias("pa"), F.col("hv")).alias("x"),
            (F.col("x.pa") == F.col("p.prio_a")) & (F.col("x.hv") < F.col("p.theta")),
        )
        .join(
            sk.select(F.col("o_orderpriority").alias("pb"), F.col("hv").alias("hvb")).alias("y"),
            (F.col("y.pb") == F.col("p.prio_b")) & (F.col("y.hvb") == F.col("x.hv")),
        )
        .groupBy("prio_a", "prio_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    est = F.round(
        (F.col("n_common").cast("double") * F.lit(float(_KMV_SCALE)))
        / F.col("theta").cast("double")
    ).cast("long")
    return (
        pairs.join(common, ["prio_a", "prio_b"], "left")
        .na.fill({"n_common": 0})
        .select(
            "prio_a",
            "prio_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("theta").cast("long").alias("theta"),
            est.alias("intersection_estimate"),
        )
    )


# ---------------------------------------------------------------------------
# Hourly-count autocorrelation (r11): seasonality diagnostics for the
# events stream — the statistic a capacity planner reads before
# trusting the burst detector's trailing-24h baseline (#194).

_ACF_LAGS = (1, 2, 3, 6, 12, 24)


@query(
    "events_hourly_autocorr",
    oracle=f"""
    WITH hc AS (SELECT date_trunc('hour', ts) AS h,
                       CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1),
    b AS (SELECT min(h) AS h0, max(h) AS h1 FROM hc),
    cal AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
            FROM b),
    d AS (SELECT cal.h, coalesce(hc.n, 0) AS n
          FROM cal LEFT JOIN hc ON cal.h = hc.h),
    l AS (SELECT n,
                 {", ".join(f"lead(n, {L}) OVER (ORDER BY h) AS y{L}" for L in _ACF_LAGS)}
          FROM d)
    {" UNION ALL ".join(
        f'''SELECT CAST({L} AS BIGINT) AS lag,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(n) AS BIGINT) AS sum_x,
               CAST(sum(y{L}) AS BIGINT) AS sum_y,
               CAST(sum(n * y{L}) AS BIGINT) AS sum_xy,
               CAST(sum(n * n) AS BIGINT) AS sum_x2,
               CAST(sum(y{L} * y{L}) AS BIGINT) AS sum_y2
        FROM l WHERE y{L} IS NOT NULL''' for L in _ACF_LAGS)}
    """,
    doc="Autocorrelation components of the hourly event-count series "
    f"at lags {_ACF_LAGS} — the seasonality diagnostic read before "
    "trusting #194's trailing-24h burst baseline (a strong lag-24 "
    "component says the baseline must be day-of-week aware). The "
    "series is CALENDAR-DENSIFIED first (quiet hours = 0 rows — the "
    "r9 burst lesson: row-offset lags over a sparse rollup reach back "
    "across gaps), then ONE window pass computes every lag tap "
    "(lead taps over the same ordering fuse into a single Window — "
    "the EWMA lesson), and per-lag Pearson components (n, sum_x, "
    "sum_y, sum_xy, sum_x2, sum_y2) are reported as EXACT BIGINTs "
    "(#121's covariance-components posture: the reader divides, the "
    "engine never crosses a float). Scale shape: the corpus collapses "
    "to one calendar-sized frame (hours since epoch — bounded by "
    "wall-clock, not data volume; ~9k rows/year), so the single-"
    "partition ordered window is bounded by the calendar too; the "
    "only corpus-sized work is the partial-agged hourly rollup.",
    tags=("analytics", "events"),
)
def events_hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    cal = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    dense = cal.join(hourly, "h", "left").na.fill({"n": 0})
    w = Window.orderBy("h")  # calendar-bounded: rows = hours of span
    taps = dense.select(
        "n", *[F.lead("n", L).over(w).alias(f"y{L}") for L in _ACF_LAGS]
    )
    pairs = taps.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(L).cast("long").alias("lag"),
                        F.col("n").alias("x"),
                        F.col(f"y{L}").alias("y"),
                    )
                    for L in _ACF_LAGS
                ]
            )
        ).alias("p")
    ).select("p.lag", "p.x", "p.y").filter(F.col("y").isNotNull())
    return pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_x2"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sum_y2"),
    )


@query(
    "orders_daily_ohlc",
    oracle="""
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(arg_min(CAST(round(o_totalprice * 100) AS BIGINT),
                        o_orderkey) AS BIGINT) AS open_cents,
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS high_cents,
           CAST(min(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS low_cents,
           CAST(arg_max(CAST(round(o_totalprice * 100) AS BIGINT),
                        o_orderkey) AS BIGINT) AS close_cents,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS volume_cents
    FROM orders GROUP BY 1
    """,
    doc="OHLC downsampling of the order-value series per day — the "
    "hypertable-rollup shape (TimescaleDB continuous aggregates / "
    "kdb+ bar queries): open/close are the first/last value under a "
    "TOTAL order (o_orderkey is unique, so arg_min/arg_max are "
    "deterministic — the window-tiebreak discipline of SURVEY §6 "
    "applied to positional aggregates), high/low/volume plain "
    "min/max/sum, everything integer cents at the aggregate boundary. "
    "Scale shape: ONE partial-aggregated shuffle keyed by day — "
    "min_by/max_by carry (value, key) pairs through the map-side "
    "combine, so no window, no sort, no per-day row enumeration; the "
    "output is calendar-sized. The downsample a 100 TB metrics store "
    "runs as its first reduction.",
    tags=("analytics", "events"),
)
def _daily_ohlc_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The day-bar frame — shared by #214, the weekly rollup-of-rollup
    (#217) and the S26 streaming twin's batch anchor."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = orders.select(
        F.col("o_orderdate").cast("date").alias("day"),
        F.col("o_orderkey").alias("k"),
        cents.alias("c"),
    )
    return base.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min_by("c", "k").cast("long").alias("open_cents"),
        F.max("c").cast("long").alias("high_cents"),
        F.min("c").cast("long").alias("low_cents"),
        F.max_by("c", "k").cast("long").alias("close_cents"),
        F.sum("c").cast("long").alias("volume_cents"),
    )


def orders_daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _daily_ohlc_frame(spark, sf_dir)


_DAILY_OHLC_SQL = """
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(arg_min(CAST(round(o_totalprice * 100) AS BIGINT),
                          o_orderkey) AS BIGINT) AS open_cents,
             CAST(max(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS high_cents,
             CAST(min(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS low_cents,
             CAST(arg_max(CAST(round(o_totalprice * 100) AS BIGINT),
                          o_orderkey) AS BIGINT) AS close_cents,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS volume_cents
      FROM orders GROUP BY 1)
"""


@query(
    "orders_weekly_ohlc",
    oracle=f"""
    WITH {_DAILY_OHLC_SQL}
    SELECT CAST(date_trunc('week', day) AS DATE) AS week,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(n_orders) AS BIGINT) AS n_orders,
           CAST(arg_min(open_cents, day) AS BIGINT) AS open_cents,
           CAST(max(high_cents) AS BIGINT) AS high_cents,
           CAST(min(low_cents) AS BIGINT) AS low_cents,
           CAST(arg_max(close_cents, day) AS BIGINT) AS close_cents,
           CAST(sum(volume_cents) AS BIGINT) AS volume_cents
    FROM daily GROUP BY 1
    """,
    doc="Hierarchical rollup chaining (the TimescaleDB continuous-"
    "aggregate-on-continuous-aggregate shape): weekly OHLC bars "
    "derived from the DAILY bars of #214 — open = open of the week's "
    "first day (arg_min over day, a total order within the week), "
    "close = close of its last, high/low/volume fold as max/min/sum. "
    "Bar algebra is associative, so the weekly level NEVER re-reads "
    "the corpus: its input is the calendar-sized daily frame (shared "
    "builder `_daily_ohlc_frame` — one definition, three consumers: "
    "#214, this, and S26's batch anchor). At 100 TB this is the whole "
    "point of bar hierarchies: each coarser level costs a rollup over "
    "the previous level's ~365 rows/year, not a data pass. ISO-Monday "
    "week truncation agrees between Spark and DuckDB date_trunc.",
    tags=("analytics", "events"),
)
def orders_weekly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_ohlc_frame(spark, sf_dir)
    return daily.groupBy(
        F.date_trunc("week", F.col("day")).cast("date").alias("week")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.min_by("open_cents", "day").cast("long").alias("open_cents"),
        F.max("high_cents").cast("long").alias("high_cents"),
        F.min("low_cents").cast("long").alias("low_cents"),
        F.max_by("close_cents", "day").cast("long").alias("close_cents"),
        F.sum("volume_cents").cast("long").alias("volume_cents"),
    )


@query(
    "kmv_union_distinct",
    oracle=f"""
    WITH {_KMV_SKETCH_SQL},
    u AS (SELECT DISTINCT hv FROM sk),
    ur AS (SELECT hv, row_number() OVER (ORDER BY hv) AS urk FROM u),
    us AS (SELECT CAST(count(*) AS BIGINT) AS n_sketch,
                  CAST(max(hv) AS BIGINT) AS sketch_max
           FROM ur WHERE urk <= {_KMV_K})
    SELECT n_sketch, sketch_max,
           CAST(CASE WHEN n_sketch < {_KMV_K} THEN n_sketch
                ELSE CAST(round({_KMV_NUM!r} / CAST(sketch_max AS DOUBLE))
                          AS BIGINT) END AS BIGINT) AS kmv_union_estimate
    FROM us
    """,
    doc="KMV set-algebra completed: the UNION sketch, built from the "
    "#210 per-priority sketches ALONE — min-k over the union of min-k "
    "sets equals min-k of the union set (any global k-smallest value "
    "is k-smallest within its own group), so the union estimate needs "
    "no second corpus pass; this is the mergeability theorem the "
    "pytest pins, here VALUE-ORACLED end to end. With #211's "
    "intersections this gives the full inclusion-exclusion toolkit "
    "over pre-built sketches. Exactness degrades correctly: fewer "
    "than k union sketch rows implies every group sketch was "
    "complete, so the union is exact. Scale shape: input is <= 5k "
    "sketch rows (bounded by construction), so the global min-k is a "
    "bounded sort_array fold — one stage, no corpus work at all "
    "beyond the shared sketch build.",
    tags=("analytics", "sketch"),
)
def kmv_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    sk = _kmv_sketch(orders, "o_orderpriority", "o_custkey")
    # <= k * n_groups input rows by construction, so collect_set is
    # bounded — the one place an in-agg set is scale-safe by design.
    arr = F.slice(F.sort_array(F.collect_set("hv")), 1, _KMV_K)
    u = sk.agg(arr.alias("a")).select(
        F.size("a").cast("long").alias("n_sketch"),
        F.element_at("a", -1).alias("sketch_max"),
    )
    est = F.when(F.col("n_sketch") < _KMV_K, F.col("n_sketch")).otherwise(
        F.round(F.lit(_KMV_NUM) / F.col("sketch_max").cast("double")).cast("long")
    )
    return u.select(
        "n_sketch",
        F.col("sketch_max").cast("long").alias("sketch_max"),
        est.cast("long").alias("kmv_union_estimate"),
    )


_LPA_ROUNDS = 4


def _lpa_oracle_sql(n_rounds: int = _LPA_ROUNDS) -> str:
    """Unrolled SQL replay of synchronous label propagation over the
    trade graph — integer labels, deterministic (count DESC, label
    ASC) tie rule, so every round replays exactly."""
    parts = [
        f"""
    WITH eb AS (
      SELECT DISTINCT o_custkey AS c, {_PR_SUPP_OFFSET} + l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS MATERIALIZED (SELECT c AS src, s AS dst FROM eb
          UNION ALL SELECT s AS src, c AS dst FROM eb),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lbl FROM e)"""
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f"""
    n{r} AS (
      SELECT e.src AS v, l.lbl, CAST(count(*) AS BIGINT) AS c
      FROM e JOIN l{r - 1} l ON l.v = e.dst GROUP BY 1, 2),
    l{r} AS MATERIALIZED (
      SELECT v, lbl FROM (
        SELECT v, lbl,
               row_number() OVER (PARTITION BY v
                                  ORDER BY c DESC, lbl ASC) AS rn
        FROM n{r}) WHERE rn = 1)"""
        )
    parts.append(
        f"""
    SELECT lbl AS community,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(CASE WHEN v < {_PR_SUPP_OFFSET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN v >= {_PR_SUPP_OFFSET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_suppliers,
           CAST(min(v) AS BIGINT) AS min_node
    FROM l{n_rounds} GROUP BY lbl"""
    )
    return ",".join(parts[:-1]) + parts[-1]


@query(
    "trade_graph_lpa",
    oracle=_lpa_oracle_sql(),
    doc="Community detection by synchronous label propagation "
    "(Raghavan et al. 2007) over the same customer<->supplier trade "
    "graph as #145's PageRank: labels init to node ids, each of 4 "
    "FIXED rounds re-labels every node with its neighbors' most "
    "frequent label (ties -> smallest label — the determinism rule "
    "that makes the unrolled DuckDB replay exact; synchronous LPA "
    "can oscillate on bipartite graphs, and a FIXED round count "
    "replays identically regardless). Output: per-community size "
    "split by node side. Per round: one edge<->label join + one "
    "partial-agg (node, label) count + one KEYED argmax window — "
    "label state is node-sized, the edge list is lineage_cut once "
    "and re-partitioned by join key, the iterative-join shape Spark "
    "graph libraries (GraphX/GraphFrames) use internally.",
    tags=("graph", "analytics"),
)
def trade_graph_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from utility_service_areas_spark.operators.dedup import lineage_cut

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    eb = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            (F.lit(_PR_SUPP_OFFSET) + F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = lineage_cut(
        eb.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
            eb.select(F.col("s").alias("src"), F.col("c").alias("dst"))
        )
    )
    labels = edges.select("src").distinct().select(
        F.col("src").alias("v"), F.col("src").alias("lbl")
    )
    for _ in range(_LPA_ROUNDS):
        nbr = edges.join(
            labels.select(F.col("v").alias("_nv"), "lbl"),
            F.col("dst") == F.col("_nv"),
        ).select(F.col("src").alias("v"), "lbl")
        cnt = nbr.groupBy("v", "lbl").agg(F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy("v").orderBy(
            F.col("c").desc(), F.col("lbl").asc()
        )
        labels = lineage_cut(
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("v", "lbl")
        )
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.when(F.col("v") < _PR_SUPP_OFFSET, 1).otherwise(0))
        .cast("long")
        .alias("n_customers"),
        F.sum(F.when(F.col("v") >= _PR_SUPP_OFFSET, 1).otherwise(0))
        .cast("long")
        .alias("n_suppliers"),
        F.min("v").cast("long").alias("min_node"),
    )


@query(
    "orders_ols_trend",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS priority,
             CAST(date_diff('day', DATE '1992-01-01', o_orderdate)
                  AS BIGINT) AS x,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1, 2),
    s AS (
      SELECT priority,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM daily GROUP BY priority)
    SELECT priority, n_days,
           CAST(round(CAST(n_days * sxy - sx * sy AS DOUBLE)
                      / CAST(n_days * sxx - sx * sx AS DOUBLE)) AS BIGINT)
             AS slope_cents_per_day,
           CAST(round((CAST(sy AS DOUBLE)
                       - (CAST(n_days * sxy - sx * sy AS DOUBLE)
                          / CAST(n_days * sxx - sx * sx AS DOUBLE))
                         * CAST(sx AS DOUBLE)) / n_days) AS BIGINT)
             AS intercept_cents
    FROM s
    """,
    doc="Per-priority revenue time trend by OLS: daily revenue (exact "
    "cents) regressed on the day index — the is-this-line-going-up "
    "primitive behind every ops dashboard, as a first-class operator "
    "(complements #121's covariance components and #187's EWMA: OLS "
    "gives the RATE, EWMA the level). Engine-exact: x is an integer "
    "day offset, y integer cents, all four OLS sums pure BIGINTs "
    "(order-free), slope and intercept are the same correctly-rounded "
    "IEEE expressions mirrored operand-for-operand. One partial-agged "
    "daily rollup + a priority-sized agg; nothing data-sized leaves "
    "the executors.",
    tags=("analytics",),
)
def orders_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
            .cast("long")
            .alias("x"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("priority", "x")
        .agg(F.sum("cents").alias("y"))
    )
    s = daily.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    slope_f = num / den
    return s.select(
        "priority",
        F.col("n_days").cast("long").alias("n_days"),
        F.round(slope_f).cast("long").alias("slope_cents_per_day"),
        F.round(
            (
                F.col("sy").cast("double")
                - slope_f * F.col("sx").cast("double")
            )
            / F.col("n_days")
        )
        .cast("long")
        .alias("intercept_cents"),
    )


@query(
    "abtest_two_proportion",
    oracle="""
    WITH assign AS (
      SELECT c.c_custkey,
             CASE WHEN ('0x' || substr(md5('ab1:' || CAST(c.c_custkey AS VARCHAR)),
                                       1, 15))::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             max(CASE WHEN o.o_orderpriority = '1-URGENT'
                      THEN 1 ELSE 0 END) AS converted
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    arms AS (
      SELECT variant,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_converted
      FROM assign GROUP BY variant),
    wide AS (
      SELECT max(CASE WHEN variant = 'A' THEN n_users END) AS n1,
             max(CASE WHEN variant = 'A' THEN n_converted END) AS x1,
             max(CASE WHEN variant = 'B' THEN n_users END) AS n2,
             max(CASE WHEN variant = 'B' THEN n_converted END) AS x2
      FROM arms)
    SELECT n1, x1, n2, x2,
           CAST(floor(x1 * 1000000.0 / n1 + 0.5) AS BIGINT) AS p1_micros,
           CAST(floor(x2 * 1000000.0 / n2 + 0.5) AS BIGINT) AS p2_micros,
           CAST(round((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
                      / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                             * (1 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                             * (1.0 / n1 + 1.0 / n2)) * 1000) AS BIGINT)
             AS z_milli
    FROM wide
    """,
    doc="Two-proportion z-test for an A/B experiment: customers "
    "assigned to arms by the #215 deterministic md5-hash split "
    "(seeded 'ab1:'), conversion = has at least one URGENT order "
    "(non-degenerate at every SF: a third of customers have no "
    "orders and priorities stripe), z = (p1-p2)/sqrt(p_pool*"
    "(1-p_pool)*(1/n1+1/n2)) — the experimentation readout every "
    "pipeline ends in, and a null-hypothesis sanity check on the "
    "split itself (a hash split MUST read |z| small; a significant z "
    "here means the bucketing leaks). Engine-exact: counts are "
    "integers; the z expression is division/sqrt of exact-integer-"
    "valued doubles, each IEEE-correctly-rounded and mirrored "
    "operand-for-operand (sqrt IS exact cross-engine, SURVEY §6 — "
    "unlike pow/ln), rounded to MILLI so a half-ulp can never flip "
    "the hash. One per-customer partial agg, a 2-row arm agg, a "
    "1-row readout.",
    tags=("analytics",),
)
def abtest_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    variant = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("ab1:"), F.col("c_custkey").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    assign = (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select("c_custkey", variant.alias("variant"), "o_orderpriority")
        .groupBy("c_custkey", "variant")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("converted")
        )
    )
    arms = assign.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == "A", F.col("n_converted"))).alias("x1"),
        F.max(F.when(F.col("variant") == "B", F.col("n_users"))).alias("n2"),
        F.max(F.when(F.col("variant") == "B", F.col("n_converted"))).alias("x2"),
    )
    x1, x2 = F.col("x1").cast("double"), F.col("x2").cast("double")
    pool = (x1 + x2) / (F.col("n1") + F.col("n2"))
    z = (x1 / F.col("n1") - x2 / F.col("n2")) / F.sqrt(
        pool * (1 - pool) * (1.0 / F.col("n1") + 1.0 / F.col("n2"))
    )
    return wide.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("x1").cast("long").alias("x1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("x2").cast("long").alias("x2"),
        F.floor(F.col("x1") * 1_000_000.0 / F.col("n1") + 0.5)
        .cast("long")
        .alias("p1_micros"),
        F.floor(F.col("x2") * 1_000_000.0 / F.col("n2") + 0.5)
        .cast("long")
        .alias("p2_micros"),
        F.round(z * 1000).cast("long").alias("z_milli"),
    )


def _hits_oracle_sql() -> str:
    """Unrolled SQL replay of hits_micros over the DIRECTED trade
    graph. Stricter than the pagerank oracle: the HITS trajectory is
    ALL-INTEGER (sums + exact integer division for the max-rescale),
    so there is no operand-order discipline to maintain — the replay
    is exact by integer arithmetic alone."""
    parts = [
        f"""
    WITH eb AS (
      SELECT DISTINCT o_custkey AS c, {_PR_SUPP_OFFSET} + l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT c AS src, s AS dst FROM eb),
    h0 AS (SELECT DISTINCT src, CAST(1000000 AS BIGINT) AS h FROM e)"""
    ]
    # Every per-round CTE is MATERIALIZED: DuckDB inlines plain CTEs
    # per reference, and the max() scalar subqueries would otherwise
    # re-instantiate the whole prior-round chain exponentially.
    for i in range(1, HITS_ROUNDS + 1):
        parts.append(
            f""",
    ar{i} AS MATERIALIZED (
        SELECT dst, CAST(sum(h) AS BIGINT) AS a_raw
        FROM e JOIN h{i-1} USING (src) GROUP BY dst),
    am{i} AS MATERIALIZED (SELECT max(a_raw) AS mx FROM ar{i}),
    a{i} AS MATERIALIZED (
        SELECT dst, CAST(a_raw * 1000000 // mx AS BIGINT) AS a
        FROM ar{i} CROSS JOIN am{i}),
    hr{i} AS MATERIALIZED (
        SELECT src, CAST(sum(a) AS BIGINT) AS h_raw
        FROM e JOIN a{i} USING (dst) GROUP BY src),
    hm{i} AS MATERIALIZED (SELECT max(h_raw) AS mx FROM hr{i}),
    h{i} AS MATERIALIZED (
        SELECT src, CAST(h_raw * 1000000 // mx AS BIGINT) AS h
        FROM hr{i} CROSS JOIN hm{i})"""
        )
    parts.append(
        f"""
    SELECT src AS node, 'hub' AS side, h AS score_micros FROM h{HITS_ROUNDS}
    UNION ALL
    SELECT dst AS node, 'auth' AS side, a AS score_micros FROM a{HITS_ROUNDS}"""
    )
    return "".join(parts)


@query(
    "trade_graph_hits",
    oracle=_hits_oracle_sql(),
    doc="Fixed-iteration HITS (Kleinberg 1999) over the DIRECTED "
    "customer->supplier trade graph: customers are scored as HUBS "
    "(buy from many good suppliers), suppliers as AUTHORITIES "
    "(bought from by many good hubs) — the second member of the "
    "iterative graph family (#145 PageRank treats the graph as "
    "symmetric; HITS exploits the bipartite direction). State "
    "discipline is STRICTER than PageRank's: scores are micros "
    "BIGINTs whose per-round update is an integer sum + a "
    "max-normalization by EXACT INTEGER DIVISION ((s*1e6) div max) — "
    "no double exists anywhere in the trajectory, so the unrolled "
    "DuckDB oracle replays by integer arithmetic alone. Per "
    "half-round: one edge-join + one partial-agg groupBy + a 1-row "
    "max broadcast; edge list checkpointed once; state node-sized.",
    tags=("graph", "analytics"),
)
def trade_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.graph import hits_micros

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(_PR_SUPP_OFFSET) + F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    return hits_micros(edges)


# CUPED experiment readout (#245): pre-period covariate window.
_CUPED_CUTOFF = "2024-01-15"  # events before = covariate X, after = metric Y


@query(
    "abtest_cuped_adjusted",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5('cuped2:' || CAST(user_id AS VARCHAR)),
                                       1, 15))::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             CAST(sum(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}'
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) // 100 AS BIGINT) AS x,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOFF}'
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) // 100 AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    pooled AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM per_user),
    arms AS (
      SELECT variant,
             CAST(count(*) AS BIGINT) AS n_v,
             CAST(sum(x) AS BIGINT) AS sx_v,
             CAST(sum(y) AS BIGINT) AS sy_v
      FROM per_user GROUP BY variant)
    SELECT variant, n_v AS n_users, sy_v AS sum_y_dollars,
           CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) * 1000) AS BIGINT)
             AS theta_milli,
           CAST(round(CAST(sy_v AS DOUBLE) / n_v * 1000) AS BIGINT)
             AS raw_mean_milli,
           CAST(round((CAST(sy_v AS DOUBLE) / n_v
                       - (CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE))
                         * (CAST(sx_v AS DOUBLE) / n_v
                            - CAST(sx AS DOUBLE) / n)) * 1000) AS BIGINT)
             AS adj_mean_milli
    FROM arms CROSS JOIN pooled
    """,
    doc="CUPED variance-reduced A/B readout (Deng et al. 2013 — the "
    "pre-experiment-covariate adjustment every experimentation "
    "platform applies before calling a winner): X = each user's "
    "pre-period spend, Y = experiment-period spend, theta = "
    "cov(X,Y)/var(X) fit on the POOLED users (the paper's estimator "
    "— fitting per-arm would bias the contrast), adjusted mean = "
    "mean(Y_v) - theta*(mean(X_v) - mean(X)). Arms assigned by the "
    "#215/#234 deterministic md5 split (seeded 'cuped2:' — the "
    "original 'cuped:' seed was RETIRED after #252's SRM audit "
    "flagged it at chi2~9.6 on this keyspace, an honest unlucky-seed "
    "catch pinned in tests). Exactness: "
    "X/Y are integer whole-dollar sums (floored from exact cents — "
    "keeps all four moment products inside BIGINT to ~150k users; "
    "ANSI overflow raises loudly beyond, where production would "
    "center first), cov/var are pure integer moment sums, and "
    "theta/means are IEEE divisions of exact integers mirrored "
    "operand-for-operand, rounded to milli. One per-user partial "
    "agg, a 1-row pooled agg + 2-row arm agg, broadcast-combined.",
    tags=("analytics",),
)
def abtest_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    variant = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cuped2:"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    per_user = (
        events.groupBy("user_id", variant.alias("variant"))
        .agg(
            F.expr(
                f"sum(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}' "
                "THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) div 100"
            ).alias("x"),
            F.expr(
                f"sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOFF}' "
                "THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) div 100"
            ).alias("y"),
        )
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    arms = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_v"),
        F.sum("x").alias("sx_v"),
        F.sum("y").alias("sy_v"),
    )
    theta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    raw_mean = F.col("sy_v").cast("double") / F.col("n_v")
    adj = raw_mean - theta * (
        F.col("sx_v").cast("double") / F.col("n_v")
        - F.col("sx").cast("double") / F.col("n")
    )
    return arms.crossJoin(F.broadcast(pooled)).select(
        "variant",
        F.col("n_v").cast("long").alias("n_users"),
        F.col("sy_v").cast("long").alias("sum_y_dollars"),
        F.round(theta * 1000).cast("long").alias("theta_milli"),
        F.round(raw_mean * 1000).cast("long").alias("raw_mean_milli"),
        F.round(adj * 1000).cast("long").alias("adj_mean_milli"),
    )


@query(
    "orders_theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(date_diff('day', DATE '1992-01-01', o_orderdate)
                  AS BIGINT) AS x,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1, 2),
    pairs AS (
      SELECT a.yr,
             CAST(((b.y - a.y) * 1000) // (b.x - a.x) AS BIGINT) AS slope
      FROM daily a JOIN daily b ON a.yr = b.yr AND a.x < b.x),
    rk AS (
      SELECT yr, slope,
             row_number() OVER (PARTITION BY yr ORDER BY slope) AS rn,
             count(*) OVER (PARTITION BY yr) AS n_pairs
      FROM pairs),
    nd AS (SELECT yr, CAST(count(*) AS BIGINT) AS n_days
           FROM daily GROUP BY yr)
    SELECT rk.yr, nd.n_days, CAST(n_pairs AS BIGINT) AS n_pairs,
           slope AS ts_slope_millicents_per_day
    FROM rk JOIN nd ON nd.yr = rk.yr
    WHERE rn = (n_pairs + 1) // 2
    """,
    doc="Theil-Sen robust trend per year: the LOWER MEDIAN of all "
    "pairwise daily-revenue slopes — the robust counterpart of #231's "
    "OLS (one outlier day can move an OLS slope arbitrarily; Theil-"
    "Sen tolerates 29% contamination). Slopes are QUANTIZED to exact "
    "integers: ((y2-y1)*1000) div (x2-x1) — Spark `div` and DuckDB "
    "`//` both truncate toward zero (verified incl. negatives), so "
    "the statistic is a median over identical integer multisets and "
    "the selected VALUE is tie-proof (equal values at the boundary "
    "yield the same answer under any tie order). Scale: the pair "
    "join is keyed by YEAR and daily frames are calendar-bounded "
    "(<=366 days -> <=67k pairs per year per key, FOREVER, at any "
    "corpus size), so the per-year rank window is bounded — this is "
    "the exact-quantile-over-bounded-pairs posture, not a global "
    "sort of data.",
    tags=("analytics",),
)
def orders_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
            .cast("long")
            .alias("x"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("yr", "x")
        .agg(F.sum("cents").alias("y"))
    )
    a = daily.select("yr", F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = daily.select("yr", F.col("x").alias("x2"), F.col("y").alias("y2"))
    pairs = a.join(b, "yr").filter(F.col("x1") < F.col("x2")).select(
        "yr",
        F.expr("((y2 - y1) * 1000) div (x2 - x1)").alias("slope"),
    )
    w = Window.partitionBy("yr").orderBy("slope")
    wn = Window.partitionBy("yr")
    nd = daily.groupBy("yr").agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .withColumn("n_pairs", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .join(nd, "yr")
        .select(
            "yr",
            "n_days",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("slope").alias("ts_slope_millicents_per_day"),
        )
    )


# Exact distributed order statistics (#247): two-phase bucket select.
_EXQ_BUCKETS = 4096


@query(
    "events_exact_quartiles_nosort",
    oracle=f"""
    WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    ord AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v)
    SELECT n.n AS n_events,
           max(CASE WHEN rn = (n.n - 1) // 4 + 1 THEN c END) AS p25_cents,
           max(CASE WHEN rn = (n.n - 1) // 2 + 1 THEN c END) AS median_cents,
           max(CASE WHEN rn = (3 * (n.n - 1)) // 4 + 1 THEN c END) AS p75_cents
    FROM ord CROSS JOIN n
    GROUP BY n.n
    """,
    doc="EXACT p25/median/p75 (lower order statistics, 0-indexed "
    "k=(n-1)*q) with NO GLOBAL SORT — the two-phase selection a "
    "100 TB engine uses where #44's approx_percentile trades "
    "accuracy and a sort-based exact quantile dies: phase 1 buckets "
    "cents values into 4096 range bins (map-side) and finds each "
    "k's bucket from the 4096-row cumulative histogram; phase 2 "
    "rank-selects WITHIN the target buckets only (expected n/4096 "
    "rows each; a production engine recurses on a still-hot bucket "
    "— one level suffices on this substrate and the semantics are "
    "identical regardless). The selected VALUE is tie-proof: ties "
    "straddling position k all carry the same value. The ORACLE "
    "sorts globally (DuckDB is the referee, not the scale model) — "
    "equality of the two is precisely the no-sort claim. Integer "
    "cents end to end; the all-equal degenerate collapses to one "
    "bucket and still selects correctly.",
    tags=("analytics",),
)
def events_exact_quartiles_nosort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    v = events.select(F.round(F.col("value") * 100).cast("long").alias("c"))
    stats = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("c").alias("mn"),
        F.max("c").alias("mx"),
    )
    bucketed = v.crossJoin(F.broadcast(stats)).select(
        "c",
        F.expr(f"((c - mn) * {_EXQ_BUCKETS}) div (mx - mn + 1)").alias("b"),
    )
    bcounts = bucketed.groupBy("b").agg(F.count(F.lit(1)).alias("bc"))
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    cum = bcounts.withColumn(
        "cum_before", F.coalesce(F.sum("bc").over(wcum), F.lit(0))
    )
    ks = (
        stats.select(
            "n",
            F.expr(
                "array(struct('p25' AS q, (n - 1) div 4 AS k), "
                "struct('median' AS q, (n - 1) div 2 AS k), "
                "struct('p75' AS q, (3 * (n - 1)) div 4 AS k)) AS qs"
            ),
        )
        .select("n", F.explode("qs").alias("qk"))
        .select("n", F.col("qk.q").alias("q"), F.col("qk.k").alias("k"))
    )
    targets = ks.join(
        F.broadcast(cum),
        (F.col("cum_before") <= F.col("k"))
        & (F.col("k") < F.col("cum_before") + F.col("bc")),
    ).select("n", "q", "k", "b", "cum_before")
    wq = Window.partitionBy("q").orderBy("c")
    picked = (
        bucketed.join(F.broadcast(targets), "b")
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == F.col("k") - F.col("cum_before") + 1)
        .select("n", "q", "c")
    )
    return picked.groupBy("n").pivot("q", ["p25", "median", "p75"]).agg(
        F.first("c")
    ).select(
        F.col("n").cast("long").alias("n_events"),
        F.col("p25").alias("p25_cents"),
        F.col("median").alias("median_cents"),
        F.col("p75").alias("p75_cents"),
    )


# Sample-ratio-mismatch audit (#252) over the repo's hash-split seeds.
_SRM_SEEDS = ("ab1:", "cuped2:", "split:")


@query(
    "abtest_srm_check",
    oracle=f"""
    WITH seeds AS (
      SELECT unnest(['{_SRM_SEEDS[0]}', '{_SRM_SEEDS[1]}',
                     '{_SRM_SEEDS[2]}']) AS seed),
    assign AS (
      SELECT s.seed,
             CASE WHEN ('0x' || substr(md5(s.seed || CAST(c.c_custkey AS VARCHAR)),
                                       1, 15))::BIGINT % 2 = 0
                  THEN 1 ELSE 0 END AS arm_a
      FROM customer c CROSS JOIN seeds s),
    arms AS (
      SELECT seed,
             CAST(sum(arm_a) AS BIGINT) AS n_a,
             CAST(count(*) - sum(arm_a) AS BIGINT) AS n_b
      FROM assign GROUP BY seed)
    SELECT seed, n_a, n_b,
           CAST(floor((n_a - n_b) * (n_a - n_b) * 1000.0 / (n_a + n_b) + 0.5)
                AS BIGINT) AS chi2_milli,
           CAST(floor((n_a - n_b) * (n_a - n_b) * 1000.0 / (n_a + n_b) + 0.5)
                > 3841 AS BIGINT) AS srm_flag
    FROM arms
    """,
    doc="Sample-ratio-mismatch audit (the FIRST check an "
    "experimentation platform runs — Fabijan et al. 2019: a "
    "significant imbalance in a 50/50 hash split means the bucketing "
    "or logging leaks, invalidating every downstream readout): for "
    "each deterministic md5 split seed in use by the repo's A/B "
    "operators ('ab1:' #234, 'cuped2:' #245, 'split:' #215), the "
    "1-dof chi-square against the planned 50/50 simplifies exactly "
    "to (n_a-n_b)^2/n — one integer numerator, one IEEE division, "
    "milli-rounded — with the 95% critical flag (3.841). All in-use "
    "seeds read unflagged (pinned) — and the audit has one real "
    "catch to its name: the repo's ORIGINAL CUPED seed 'cuped:' "
    "flags at chi2_milli=9600 on the sf0.01 keyspace (z~3.1, an "
    "unlucky deterministic seed frozen forever), so #245 was rotated "
    "to 'cuped2:' and the catch is pinned in the tests — exactly the "
    "retire-the-seed workflow SRM exists to drive. Scale: one map-side 3x seed expansion of the customer "
    "keys + a 3-row agg; no shuffle beyond the partial agg.",
    tags=("analytics",),
)
def abtest_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    seeds = F.array(*[F.lit(s) for s in _SRM_SEEDS])
    assign = cust.select(
        F.explode(seeds).alias("seed"), F.col("c_custkey")
    ).select(
        "seed",
        F.when(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.col("seed"), F.col("c_custkey").cast("string"))
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 0,
            1,
        )
        .otherwise(0)
        .alias("arm_a"),
    )
    arms = assign.groupBy("seed").agg(
        F.sum("arm_a").cast("long").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("arm_a")).cast("long").alias("n_b"),
    )
    chi2 = F.floor(
        (F.col("n_a") - F.col("n_b"))
        * (F.col("n_a") - F.col("n_b"))
        * 1000.0
        / (F.col("n_a") + F.col("n_b"))
        + 0.5
    ).cast("long")
    return arms.select(
        "seed",
        "n_a",
        "n_b",
        chi2.alias("chi2_milli"),
        (chi2 > 3841).cast("long").alias("srm_flag"),
    )


@query(
    "user_activity_gini",
    oracle="""
    WITH counts AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
    hist AS (
      SELECT c, CAST(count(*) AS BIGINT) AS m FROM counts GROUP BY c),
    runs AS (
      SELECT c, m,
             CAST(coalesce(sum(m) OVER (ORDER BY c ASC
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS BIGINT) AS s
      FROM hist),
    agg AS (
      SELECT CAST(sum(c * (m * s + m * (m + 1) // 2)) AS BIGINT) AS s1,
             CAST(sum(c * m) AS BIGINT) AS t,
             CAST(sum(m) AS BIGINT) AS n
      FROM runs)
    SELECT n AS n_users, t AS total_events,
           CAST(floor(CAST(2 * s1 - (n + 1) * t AS DOUBLE) * 1000000
                      / CAST(n * t AS DOUBLE) + 0.5) AS BIGINT)
             AS gini_micros
    FROM agg
    """,
    doc="Gini coefficient of per-user event concentration WITHOUT "
    "sorting users: ties collapse into the count HISTOGRAM (value c "
    "held by m users), and the sorted-rank sum Σ i·x_i factors "
    "per run as c·(m·s + m(m+1)/2) with s = users before the run — "
    "so the whole statistic needs one (user) partial agg, one "
    "histogram agg, and ONE histogram-sized cumulative window "
    "(bounded by distinct activity levels, not user count). "
    "G = (2·Σi·x_i − (n+1)·T) / (n·T): integer numerator/denominator, "
    "one mirrored double division, micros-rounded. The concentration "
    "thermometer beside #157's top-20 skew profile — #157 names the "
    "hot keys, THIS gives the one-number inequality of the whole "
    "distribution (0 = uniform, →1 = one user is the firehose).",
    tags=("analytics",),
)
def user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    hist = counts.groupBy("c").agg(F.count(F.lit(1)).alias("m"))
    wh = Window.orderBy(F.col("c").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    runs = hist.withColumn("s", F.coalesce(F.sum("m").over(wh), F.lit(0)))
    agg = runs.agg(
        F.sum(
            F.col("c")
            * (
                F.col("m") * F.col("s")
                + F.expr("m * (m + 1) div 2")
            )
        ).alias("s1"),
        F.sum(F.col("c") * F.col("m")).alias("t"),
        F.sum("m").alias("n"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("t").cast("long").alias("total_events"),
        F.floor(
            (2 * F.col("s1") - (F.col("n") + 1) * F.col("t")).cast("double")
            * 1_000_000
            / (F.col("n") * F.col("t")).cast("double")
            + 0.5
        )
        .cast("long")
        .alias("gini_micros"),
    )


@query(
    "part_brand_type_chi2",
    oracle="""
    WITH obs AS (
      SELECT p_brand AS b, p_type AS cc,
             CAST(count(*) AS BIGINT) AS o
      FROM part GROUP BY 1, 2),
    rt AS (SELECT b, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY b),
    ct AS (SELECT cc, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY cc),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
    grid AS (
      SELECT rt.b, ct.cc, rt.r, ct.c, coalesce(obs.o, 0) AS o
      FROM rt CROSS JOIN ct
      LEFT JOIN obs ON obs.b = rt.b AND obs.cc = ct.cc),
    cells AS (
      SELECT CAST(round(CAST(o * n - r * c AS DOUBLE)
                        * CAST(o * n - r * c AS DOUBLE)
                        / CAST(r * c AS DOUBLE) / n * 1000) AS BIGINT)
               AS term_milli
      FROM grid CROSS JOIN tot),
    dims AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM rt) AS nr,
             (SELECT CAST(count(*) AS BIGINT) FROM ct) AS nc)
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           (SELECT (nr - 1) * (nc - 1) FROM dims) AS dof,
           CAST(sum(term_milli) AS BIGINT) AS chi2_milli
    FROM cells
    """,
    doc="Chi-square test of independence between two categorical "
    "columns (brand x part type — the are-these-dimensions-coupled "
    "audit behind every stratified design): each cell's "
    "(O-E)^2/E is rewritten as (O·n − r·c)^2 / (r·c·n) so every "
    "argument entering the doubles is an EXACT INTEGER, the division "
    "chain is mirrored operand-for-operand, the FULL RxC grid is "
    "materialized so ZERO cells contribute their (0-E)^2/E (the "
    "sparse-table pitfall, pinned by the perfect-coupling test), and "
    "each cell rounds to "
    "milli BEFORE the integer sum (cell count = |brands|x|types|, "
    "bounded by cardinality not data). One (b, cc) partial-agg "
    "shuffle; margins are two dim-sized aggs broadcast back.",
    tags=("analytics",),
)
def part_brand_type_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    obs = part.groupBy(
        F.col("p_brand").alias("b"), F.col("p_type").alias("cc")
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("b").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("cc").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    dims = rt.agg(F.count(F.lit(1)).alias("nr")).crossJoin(
        ct.agg(F.count(F.lit(1)).alias("nc"))
    )
    d = (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast("double")
    term = F.round(
        d * d / (F.col("r") * F.col("c")).cast("double") / F.col("n") * 1000
    ).cast("long")
    # the FULL R x C grid: chi-square's zero cells contribute (0-E)^2/E
    # — summing observed cells only understates the statistic (caught
    # by the perfect-coupling pin)
    grid = (
        rt.crossJoin(ct)
        .join(obs, ["b", "cc"], "left")
        .select("b", "cc", "r", "c", F.coalesce(F.col("o"), F.lit(0)).alias("o"))
    )
    cells = grid.crossJoin(F.broadcast(tot)).select(term.alias("term_milli"))
    return (
        cells.agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("term_milli").cast("long").alias("chi2_milli"),
        )
        .crossJoin(F.broadcast(dims))
        .select(
            "n_cells",
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
            "chi2_milli",
        )
    )


@query(
    "orders_seasonality_index",
    oracle="""
    WITH monthly AS (
      SELECT CAST(month(o_orderdate) AS BIGINT) AS mon,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM monthly)
    SELECT mon, cents AS revenue_cents,
           CAST(floor(CAST(cents AS DOUBLE) * 12000000 / total + 0.5)
                AS BIGINT) AS index_micros
    FROM monthly CROSS JOIN tot
    """,
    doc="Multiplicative seasonal index by calendar month "
    "(month-of-year revenue share x 12, so 1_000_000 = a perfectly "
    "average month): the classical-decomposition seasonal component "
    "a forecasting pipeline divides out before trend fitting "
    "(complements #231 OLS trend / #187 EWMA level). cents are exact "
    "integers; the index is one mirrored double multiply-divide, "
    "micros-floored. One month-keyed partial agg + a 1-row total "
    "broadcast — 12 output rows at any scale.",
    tags=("analytics",),
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.month("o_orderdate").cast("long").alias("mon")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    tot = monthly.agg(F.sum("cents").alias("total"))
    return monthly.crossJoin(F.broadcast(tot)).select(
        "mon",
        F.col("cents").cast("long").alias("revenue_cents"),
        F.floor(
            F.col("cents").cast("double") * 12_000_000 / F.col("total") + 0.5
        )
        .cast("long")
        .alias("index_micros"),
    )


# ---------------------------------------------------------------------------
# r15: two scale-safe statistics kernels — rank-based A/B testing and
# changepoint detection, both in the integer-exact oracle discipline.
# ---------------------------------------------------------------------------

_MW_BANDS = 64  # banded-cumsum fan-out (driver state <= 64 rows)


@query(
    "abtest_mann_whitney",
    oracle="""
    WITH pool AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ga,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    vals AS (
      SELECT v, CAST(sum(ga) AS BIGINT) AS a,
             CAST(sum(1 - ga) AS BIGINT) AS b
      FROM pool GROUP BY v),
    cum AS (
      SELECT v, a, b,
             CAST(coalesce(sum(b) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS b_below
      FROM vals),
    agg AS (
      SELECT CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b,
             CAST(sum(a * (2 * b_below + b)) AS BIGINT) AS u2_a,
             CAST(sum((a + b) * (a + b) * (a + b) - (a + b)) AS BIGINT)
               AS tie_cubic
      FROM cum)
    SELECT n_a, n_b, u2_a,
           CAST(2 * n_a * n_b - u2_a AS BIGINT) AS u2_b,
           CAST(n_a * n_b AS BIGINT) AS mean2_u,
           tie_cubic
    FROM agg
    """,
    doc="Mann-Whitney U (Wilcoxon rank-sum) A/B test between URGENT "
    "and LOW order priorities on order value — the NON-PARAMETRIC "
    "leg beside the two-proportion z (#210) and CUPED (#241's "
    "family): doubled U statistics stay exact integers (2U_A = "
    "Σ_v a_v(2·cum_b<v + b_v), ties counted half), u2_a + u2_b == "
    "2·n_a·n_b by construction, and the tie-correction term Σ(t³−t) "
    "is emitted so any caller can finish the normal approximation "
    "with one sqrt. NO pooled global ranking: the cumulative "
    "below-count factorizes into per-band window cumsums over the "
    "DISTINCT-VALUE frame (band key = value-range quantile, monotone "
    "in the sort key) + a ≤64-row collected band-total offset table "
    "— the suffix-rank banding device applied to a statistics "
    "kernel; every shuffle is keyed, nothing data-sized hits one "
    "reducer or the driver. DuckDB replays the identical arithmetic "
    "over a plain window (its single node IS one band).",
    tags=("analytics",),
)
def abtest_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.dedup import lineage_cut

    o = load_table(spark, sf_dir, "orders")
    pool = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("ga"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    # cut FIRST: the distinct-value frame feeds the vmax probe, the
    # band-total collect, and the final aggregation — without the cut
    # the pool scan + groupBy would re-run per consumer (r15 review #6)
    vals = lineage_cut(
        pool.groupBy("v").agg(
            F.sum("ga").cast("long").alias("a"),
            F.sum(F.lit(1) - F.col("ga")).cast("long").alias("b"),
        )
    )
    vmax = vals.agg(F.max("v")).collect()[0][0]
    if vmax is None:
        # empty pool: keep the ORACLE's shape — an aggregate without
        # GROUP BY over zero rows still emits one all-NULL row in both
        # engines (r15 review #3), so fall through with a trivial
        # below-count instead of short-circuiting to zero rows
        cum = vals.withColumn("b_below", F.lit(0).cast("long"))
    else:
        band = F.expr(
            f"CAST(v * {_MW_BANDS} AS BIGINT) div {int(vmax) + 1}"
        )
        local = lineage_cut(
            vals.withColumn("_band", band).withColumn(
                "_cb",
                F.coalesce(
                    F.sum("b").over(
                        Window.partitionBy("_band")
                        .orderBy("v")
                        .rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ),
            )
        )
        totals = (
            local.groupBy("_band").agg(F.sum("b").alias("_bt")).collect()
        )
        off = 0
        offsets: dict[int, int] = {}
        for row in sorted(totals, key=lambda r: r._band):
            offsets[row._band] = off
            off += int(row._bt)
        omap = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        )
        cum = local.withColumn(
            "b_below", (omap[F.col("_band")] + F.col("_cb")).cast("long")
        )
    agg = cum.agg(
        F.sum("a").cast("long").alias("n_a"),
        F.sum("b").cast("long").alias("n_b"),
        F.sum(
            F.col("a") * (F.lit(2) * F.col("b_below") + F.col("b"))
        )
        .cast("long")
        .alias("u2_a"),
        F.sum(
            (F.col("a") + F.col("b"))
            * (F.col("a") + F.col("b"))
            * (F.col("a") + F.col("b"))
            - (F.col("a") + F.col("b"))
        )
        .cast("long")
        .alias("tie_cubic"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "u2_a",
        (F.lit(2) * F.col("n_a") * F.col("n_b") - F.col("u2_a"))
        .cast("long")
        .alias("u2_b"),
        (F.col("n_a") * F.col("n_b")).cast("long").alias("mean2_u"),
        "tie_cubic",
    )


@query(
    "events_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type AS t, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(c) AS BIGINT) AS total
      FROM daily GROUP BY t),
    cus AS (
      SELECT daily.t, d,
             CAST(abs(sum(n_days * c - total) OVER (
                    PARTITION BY daily.t ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS BIGINT) AS abs_c
      FROM daily JOIN tot USING (t)),
    m AS (SELECT t, CAST(max(abs_c) AS BIGINT) AS max_abs_cusum_n
          FROM cus GROUP BY t),
    pick AS (
      SELECT c.t, min(c.d) AS changepoint_day
      FROM cus c JOIN m ON c.t = m.t AND c.abs_c = m.max_abs_cusum_n
      GROUP BY c.t)
    SELECT tot.t AS event_type, tot.n_days, tot.total,
           m.max_abs_cusum_n, pick.changepoint_day
    FROM tot JOIN m ON m.t = tot.t JOIN pick ON pick.t = tot.t
    """,
    doc="CUSUM changepoint scan per event type over the daily count "
    "series — the drift alarm beside z-score anomalies (#76) and "
    "burst detection (#194): the classic mean-shift statistic "
    "max_k |Σ_{i<=k} (x_i − x̄)| located at its first argmax day. "
    "Integer-exact WITHOUT dividing by n: each term is scaled by "
    "n_days (n·x_i − S is integer, Σ telescopes to n·prefix − k·S), "
    "so max_abs_cusum_n = n · max|CUSUM| and both engines replay it "
    "by integer arithmetic alone; the argmax day resolves ties to "
    "the EARLIEST day via an explicit max-join (never engine-"
    "dependent arg_max tiebreaks). Scale: one keyed daily partial "
    "agg collapses the stream; everything after is calendar-sized "
    "per type (bounded window partitions), output = one row per "
    "event type.",
    tags=("analytics", "events"),
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.dedup import lineage_cut

    e = load_table(spark, sf_dir, "events")
    # daily and cus are calendar×type-sized and each feed 2+ consumers
    # — cut them so the event scan + groupBy run ONCE, not per branch
    # (Catalyst does not reuse identical subtrees across joins)
    daily = lineage_cut(
        e.groupBy(
            F.col("event_type").alias("t"),
            F.col("ts").cast("date").alias("d"),
        ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = daily.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("total"),
    )
    w = (
        Window.partitionBy("t")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cus = lineage_cut(
        daily.join(F.broadcast(tot), "t")
        .withColumn(
            "abs_c",
            F.abs(
                F.sum(
                    F.col("n_days") * F.col("c") - F.col("total")
                ).over(w)
            ).cast("long"),
        )
        .select("t", "d", "abs_c")
    )
    m = cus.groupBy("t").agg(
        F.max("abs_c").cast("long").alias("max_abs_cusum_n")
    )
    pick = (
        cus.alias("c")
        .join(
            F.broadcast(m.alias("mm")),
            (F.col("c.t") == F.col("mm.t"))
            & (F.col("c.abs_c") == F.col("mm.max_abs_cusum_n")),
        )
        .groupBy(F.col("c.t").alias("t"))
        .agg(F.min(F.col("c.d")).alias("changepoint_day"))
    )
    return (
        tot.join(F.broadcast(m), "t")
        .join(F.broadcast(pick), "t")
        .select(
            F.col("t").alias("event_type"),
            "n_days",
            "total",
            "max_abs_cusum_n",
            "changepoint_day",
        )
    )


@query(
    "orders_kruskal_wallis",
    oracle="""
    WITH pool AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders),
    vals AS (
      SELECT v, CAST(count(*) AS BIGINT) AS t FROM pool GROUP BY v),
    cum AS (
      SELECT v, t,
             CAST(coalesce(sum(t) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS below
      FROM vals),
    pergv AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM pool GROUP BY 1, 2),
    grp AS (
      SELECT p.g,
             CAST(sum(p.c) AS BIGINT) AS n_g,
             CAST(sum(p.c * (2 * c2.below + c2.t + 1)) AS BIGINT)
               AS rank2_sum
      FROM pergv p JOIN cum c2 USING (v) GROUP BY p.g),
    tot AS (
      SELECT CAST(sum(t) AS BIGINT) AS n_total,
             CAST(sum(t * t * t - t) AS BIGINT) AS tie_cubic
      FROM vals)
    SELECT g AS o_orderpriority, n_g, rank2_sum, n_total, tie_cubic
    FROM grp, tot
    """,
    doc="Kruskal-Wallis rank components across ALL FIVE order "
    "priorities — the k-group generalization of #264's two-group "
    "Mann-Whitney, in the same exact-integer-components posture as "
    "#121's covariance sums: per group the DOUBLED pooled rank sum "
    "2R_g = Σ_v c_gv·(2·below(v) + t_v + 1) (average ranks for ties "
    "are half-integers, so doubling keeps every term integer), plus "
    "N and the tie term Σ(t³−t); the reader finishes H = "
    "[12/(N(N+1))·Σ(R_g²/n_g) − 3(N+1)] / (1 − ties/(N³−N)) with one "
    "division. Invariant by construction: Σ 2R_g == N(N+1) (the "
    "pooled ranks partition), pinned. Scale: same banded-cumsum "
    "device as #264 — the pooled below-count factorizes into "
    "per-band window cumsums over the distinct-value frame + a "
    "≤64-row collected offset table; the per-(group,value) frame "
    "shuffles keyed on v for the cum join; output = 5 rows.",
    tags=("analytics",),
)
def orders_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.dedup import lineage_cut

    o = load_table(spark, sf_dir, "orders")
    pool = lineage_cut(
        o.select(
            F.col("o_orderpriority").alias("g"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
    )
    vals = lineage_cut(
        pool.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    vmax = vals.agg(F.max("v")).collect()[0][0]
    if vmax is None:
        cum = vals.withColumn("below", F.lit(0).cast("long"))
    else:
        band = F.expr(
            f"CAST(v * {_MW_BANDS} AS BIGINT) div {int(vmax) + 1}"
        )
        local = lineage_cut(
            vals.withColumn("_band", band).withColumn(
                "_cb",
                F.coalesce(
                    F.sum("t").over(
                        Window.partitionBy("_band")
                        .orderBy("v")
                        .rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ),
            )
        )
        totals = (
            local.groupBy("_band").agg(F.sum("t").alias("_tt")).collect()
        )
        off = 0
        offsets: dict[int, int] = {}
        for row in sorted(totals, key=lambda r: r._band):
            offsets[row._band] = off
            off += int(row._tt)
        omap = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        )
        cum = local.withColumn(
            "below", (omap[F.col("_band")] + F.col("_cb")).cast("long")
        ).select("v", "t", "below")
    pergv = pool.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    grp = (
        pergv.join(cum, "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(
                F.col("c")
                * (F.lit(2) * F.col("below") + F.col("t") + F.lit(1))
            )
            .cast("long")
            .alias("rank2_sum"),
        )
    )
    tot = vals.agg(
        F.sum("t").cast("long").alias("n_total"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_cubic"),
    )
    return grp.crossJoin(F.broadcast(tot)).select(
        F.col("g").alias("o_orderpriority"),
        "n_g",
        "rank2_sum",
        "n_total",
        "tie_cubic",
    )
