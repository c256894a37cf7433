"""SURVEY.md §2 extensions — incremental-refresh ETL shapes: MERGE
(upsert), PIVOT, UNPIVOT. The reference pipeline fully re-downloads
its inputs each run; at 100 TB refresh must be incremental, so the
upsert is a first-class operator here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from utility_service_areas_spark.plans.registry import query
from utility_service_areas_spark.sources.tables import load_table
from utility_service_areas_spark.operators.localrel import local_df


def merge_upsert(
    snapshot: DataFrame, changes: DataFrame, key: str, cols: list[str]
) -> DataFrame:
    """MERGE semantics without a table format: full outer join on the
    key; changed rows win, unmatched changes insert, unmatched
    snapshot rows carry forward. One shuffle on the key (or zero if
    both sides are bucketed on it, as
    sources/versioned.py:write_version_bucketed lays a table out)."""
    s = snapshot.select(key, *[F.col(c).alias(f"s_{c}") for c in cols])
    c = changes.select(key, *[F.col(ch).alias(f"c_{ch}") for ch in cols])
    joined = s.join(c, key, "full_outer")
    merged = [
        F.coalesce(F.col(f"c_{col}"), F.col(f"s_{col}")).alias(col) for col in cols
    ]
    return joined.select(key, *merged)


@query(
    "merge_upsert_customers",
    oracle="""
    WITH changes AS (
      -- no 2-dp intermediate round: Spark (BigDecimal HALF_UP on the
      -- shortest decimal) and DuckDB (scaled std::round) disagree at
      -- exact .xx5 doubles (first hit: sf0.1 c_custkey 3050); the
      -- single final cents rounding below agrees on both engines.
      SELECT c_custkey, concat('UPDATED-', c_name) AS c_name,
             c_acctbal * 1.1 AS c_acctbal
      FROM customer WHERE c_custkey % 10 = 0),
    inserts AS (
      SELECT c_custkey + 1000000 AS c_custkey, concat('NEW-', c_name) AS c_name,
             c_acctbal
      FROM customer WHERE c_custkey % 100 = 0),
    delta AS (SELECT * FROM changes UNION ALL SELECT * FROM inserts)
    SELECT s.c_custkey AS merge_key,
           coalesce(d.c_name, s.c_name) AS c_name,
           CAST(round(coalesce(d.c_acctbal, s.c_acctbal) * 100) AS BIGINT)
               AS acctbal_cents
    FROM customer s LEFT JOIN delta d ON s.c_custkey = d.c_custkey
    UNION ALL
    SELECT d.c_custkey AS merge_key, d.c_name,
           CAST(round(d.c_acctbal * 100) AS BIGINT) AS acctbal_cents
    FROM delta d WHERE d.c_custkey NOT IN (SELECT c_custkey FROM customer)
    """,
    doc="MERGE/upsert: apply a change-batch (updates + inserts derived "
    "deterministically from the snapshot) via full-outer join — the "
    "incremental-refresh primitive the reference's full-redownload "
    "pipeline needs at scale.",
    tags=("etl",),
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    changes = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.concat(F.lit("UPDATED-"), F.col("c_name")).alias("c_name"),
        (F.col("c_acctbal") * 1.1).alias("c_acctbal"),  # see oracle note
    )
    inserts = cust.filter(F.col("c_custkey") % 100 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("NEW-"), F.col("c_name")).alias("c_name"),
        "c_acctbal",
    )
    delta = changes.unionByName(inserts)
    merged = merge_upsert(
        cust.select("c_custkey", "c_name", "c_acctbal"),
        delta,
        "c_custkey",
        ["c_name", "c_acctbal"],
    )
    return merged.select(
        F.col("c_custkey").alias("merge_key"),
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
    )


@query(
    "salted_hot_key_join",
    oracle="""
    SELECT s.s_name,
           count(*) AS n_lines,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    """,
    doc="Skew-mitigated join (SURVEY §6): every supplier key is hot in "
    "the substrate (tiny key domain), so the fact side is salted and "
    "the supplier side replicated n_salts times — each hot key spreads "
    "over 8 reducers instead of pinning one. Result provably equals "
    "the plain join (the oracle IS the plain join).",
    tags=("etl", "skew"),
)
def salted_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"), "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    joined = salted_join(
        li, sup, "s_suppkey", salt_source=F.col("l_orderkey") * 8 + F.col("l_linenumber")
    )
    return joined.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("total_cents"),
    )


@query(
    "pivot_status_by_year",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
    FROM orders GROUP BY order_year
    """,
    doc="PIVOT: order counts by year x status as wide columns "
    "(conditional partial aggregation — one shuffle).",
    tags=("etl",),
)
def pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    out = (
        o.groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "order_year",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_P"),
    )


@query(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, metric, CAST(value AS BIGINT) AS value FROM (
      SELECT p_partkey, 'size' AS metric, p_size AS value FROM part
      UNION ALL
      SELECT p_partkey, 'retail_cents' AS metric,
             CAST(round(p_retailprice * 100) AS INT) AS value FROM part)
    """,
    doc="UNPIVOT/melt: wide metrics to long form (stack — no shuffle).",
    tags=("etl",),
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("int").alias("size"),
        F.round(F.col("p_retailprice") * 100).cast("int").alias("retail_cents"),
    )
    return p.unpivot(
        "p_partkey", ["size", "retail_cents"], "metric", "value"
    ).select("p_partkey", "metric", F.col("value").cast("long").alias("value"))


@query(
    "weighted_sample_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders
    WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
          / 4294967296.0
          < o_totalprice / (SELECT max(o_totalprice) FROM orders)
    """,
    doc="Deterministic weighted Bernoulli sample: keep probability "
    "proportional to order value, with the coin flip derived from "
    "md5(key) instead of RNG state — reproducible on any cluster "
    "size/partitioning, rerunnable incrementally. The hash-uniform "
    "is an exact integer/2^32 double and the weight ratio divides "
    "identical doubles, so Spark and DuckDB agree on every row. "
    "Pure codegen predicate + one broadcast scalar (the max).",
    tags=("etl",),
)
def weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_totalprice").alias("mx"))
    uniform = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long") / F.lit(4294967296.0)
    )
    return (
        o.join(F.broadcast(mx))
        .filter(uniform < F.col("o_totalprice") / F.col("mx"))
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        )
    )


@query(
    "fuzzy_match_part_names",
    oracle="""
    WITH variants AS (
      SELECT p_partkey AS src_key,
             substr(p_name, 1, CAST(p_partkey % length(p_name) AS INT))
             || substr(p_name,
                       CAST(p_partkey % length(p_name) AS INT) + 2) AS variant,
             substr(p_name, 1, 1) AS blk_c,
             length(p_name) AS blk_len
      FROM part),
    cands AS (
      SELECT v.src_key, v.variant, p.p_partkey AS match_key
      FROM variants v
      JOIN part p ON substr(p.p_name, 1, 1) = v.blk_c
                 AND length(p.p_name) BETWEEN v.blk_len - 1 AND v.blk_len
      WHERE levenshtein(v.variant, p.p_name) <= 1)
    SELECT src_key,
           count(*) AS n_candidates,
           min(match_key) AS best_match_key,
           CAST(max(CASE WHEN match_key = src_key THEN 1 ELSE 0 END) AS BIGINT)
               AS self_recovered
    FROM cands
    GROUP BY src_key
    """,
    doc="Record-linkage fuzzy join: part names corrupted by one "
    "deleted character are matched back within edit distance 1. "
    "Blocking on (first char, length band) turns the quadratic "
    "all-pairs levenshtein into per-block candidate sets — the same "
    "bucket-then-verify posture as the dedup family; levenshtein is "
    "the JVM built-in, evaluated only on blocked candidates. "
    "self_recovered audits that the true source survives blocking.",
    tags=("etl",),
)
def fuzzy_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy join restructured around NAME-LEVEL dedup: the quadratic
    lev≤1 matching runs on DISTINCT (variant string, canonical name)
    pairs, never on rows. The corpus has a tiny name vocabulary
    replicated across keys (sf0.1: 64 names over 20k rows), so the
    row-level blocked join exploded duplicate-name work ~(rows/names)²
    — measured 27.4M candidate levenshteins and 40 s; name-level it is
    a few hundred. Per-canon-name stats (key count, min key) fold the
    row multiplicity back in after the match, so the output —
    identical to the oracle's row-level semantics — needs only
    broadcast joins against the tiny matched-name table. Corpora with
    fully distinct names degrade gracefully to the plain blocked join
    (the dedup is then a no-op).
    """
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    cut = (F.col("p_partkey") % F.length("p_name")).cast("int")
    # name-level canon stats: how many keys share a name, and its min
    cstats = (
        p.groupBy(F.col("p_name").alias("canon_name"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.min("p_partkey").alias("min_key"),
        )
        .select(
            "canon_name",
            "n_keys",
            "min_key",
            F.substring("canon_name", 1, 1).alias("c_blk_c"),
            F.length("canon_name").alias("c_blk_len"),
        )
    )
    # distinct (name, cut-position) → distinct variant strings
    vdist = (
        p.select("p_name", cut.alias("cut"))
        .distinct()
        .select(
            "p_name",
            "cut",
            F.concat(
                F.expr("substr(p_name, 1, cut)"),
                F.expr("substr(p_name, cut + 2)"),
            ).alias("variant"),
            F.substring("p_name", 1, 1).alias("blk_c"),
            F.length("p_name").alias("blk_len"),
        )
    )
    # the oracle's blocking + lev≤1 verify, at name granularity (tiny)
    name_pairs = (
        vdist.join(
            F.broadcast(cstats),
            (F.col("c_blk_c") == F.col("blk_c"))
            & (F.col("c_blk_len").between(F.col("blk_len") - 1, F.col("blk_len"))),
        )
        .filter(F.levenshtein("variant", "canon_name") <= 1)
        .select("p_name", "cut", "canon_name", "n_keys", "min_key")
    )
    # fold row multiplicity back in: each src row matches every key of
    # each matched name; match_key == src_key ⟺ own name matched
    per_src = p.select(
        F.col("p_partkey").alias("src_key"), "p_name", cut.alias("cut")
    ).join(F.broadcast(name_pairs), ["p_name", "cut"])
    return per_src.groupBy("src_key").agg(
        F.sum("n_keys").cast("long").alias("n_candidates"),
        F.min("min_key").alias("best_match_key"),
        F.max(F.when(F.col("canon_name") == F.col("p_name"), 1).otherwise(0))
        .cast("long")
        .alias("self_recovered"),
    )


@query(
    "scd2_customer_history",
    oracle="""
    SELECT o_custkey,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey)
               AS valid_to,
           CAST(round(o_totalprice * 100) AS BIGINT) AS attr_cents,
           CAST(CASE WHEN lead(o_orderdate) OVER (PARTITION BY o_custkey
                                                  ORDER BY o_orderdate, o_orderkey)
                          IS NULL
                     THEN 1 ELSE 0 END AS BIGINT) AS is_current
    FROM orders
    """,
    doc="SCD Type-2 history build: a change stream (orders standing in "
    "for attribute changes) becomes validity intervals per key — "
    "valid_from/valid_to via one lead() window, is_current flag on the "
    "open interval. ONE shuffle on the key; the window sort is bounded "
    "per key (change counts, not fact volume). The standard "
    "warehouse-dimension maintenance op.",
    tags=("etl",),
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("attr_cents"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("long").alias("is_current"),
    )


@query(
    "bloom_new_customer_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1999-01-01'
      AND NOT EXISTS (
        SELECT 1 FROM orders h
        WHERE h.o_orderdate < TIMESTAMP '1999-01-01'
          AND h.o_custkey = o.o_custkey)
    """,
    doc="Incremental-ingest membership test: orders in the new period "
    "whose customer was never seen in the history period — computed "
    "as a bloom-prefiltered exact anti join (operators/bloom.py). The "
    "bloom pass (JVM hash positions, one distinct over at most m "
    "bits) lets rows with a missed bit skip the join entirely; only "
    "candidates pay the exact confirmation, so the result is exactly "
    "NOT EXISTS while the join sees |members| + fpp*|probe| rows. "
    "Models the reference's cached-certificate skip "
    "(R/functions.R:84-100) at corpus scale.",
    tags=("etl",),
)
def bloom_new_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.bloom import bloom_anti_join

    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01").cast("timestamp")
    history = o.filter(F.col("o_orderdate") < cutoff).select("o_custkey")
    incoming = o.filter(F.col("o_orderdate") >= cutoff)
    return bloom_anti_join(
        incoming,
        history,
        probe_key="o_custkey",
        build_key="o_custkey",
        probe_id="o_orderkey",
    ).select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("totalprice_cents"),
    )


@query(
    "deletion_cascade_manifest",
    oracle="""
    WITH del AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 100 = 7),
    o AS (
      SELECT o_custkey, o_orderkey, o_orderdate FROM orders
      JOIN del ON o_custkey = c_custkey),
    l AS (
      SELECT o.o_custkey,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
               AS cents
      FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey),
    ostat AS (
      SELECT o_custkey, count(*) AS n_orders,
             min(o_orderdate) AS first_order, max(o_orderdate) AS last_order
      FROM o GROUP BY 1),
    lstat AS (
      SELECT o_custkey, count(*) AS n_lineitems,
             CAST(sum(cents) AS BIGINT) AS revenue_cents
      FROM l GROUP BY 1)
    SELECT d.c_custkey,
           CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
           CAST(coalesce(n_lineitems, 0) AS BIGINT) AS n_lineitems,
           CAST(coalesce(revenue_cents, 0) AS BIGINT) AS revenue_cents,
           first_order, last_order
    FROM del d
    LEFT JOIN ostat ON d.c_custkey = ostat.o_custkey
    LEFT JOIN lstat ON d.c_custkey = lstat.o_custkey
    """,
    doc="Right-to-be-forgotten manifest: for a deletion set of "
    "customers (1% sim: c_custkey % 100 = 7), the per-customer "
    "cascade audit a GDPR job writes BEFORE deleting — how many "
    "orders and lineitems will go, the revenue history being erased, "
    "and the order-date span. Shape: the tiny deletion set semi-drives "
    "two cascading joins (broadcast at scale — the delete set is "
    "always small relative to the fact tables), zero-row customers "
    "kept via left joins; integer cents keep sums order-free.",
    tags=("etl",),
)
def deletion_cascade_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    del_set = cust.filter(F.col("c_custkey") % 100 == 7).select("c_custkey")
    o = orders.join(
        F.broadcast(del_set), orders.o_custkey == del_set.c_custkey
    ).select("o_custkey", "o_orderkey", "o_orderdate")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    l = li.join(
        F.broadcast(o.select("o_custkey", "o_orderkey")),
        li.l_orderkey == F.col("o_orderkey"),
    ).select("o_custkey", cents.alias("cents"))
    ostat = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )
    lstat = l.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.sum("cents").alias("revenue_cents"),
    )
    return (
        del_set.join(ostat, del_set.c_custkey == ostat.o_custkey, "left")
        .drop(ostat.o_custkey)
        .join(lstat, del_set.c_custkey == lstat.o_custkey, "left")
        .drop(lstat.o_custkey)
        .select(
            "c_custkey",
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            F.coalesce("n_lineitems", F.lit(0)).cast("long").alias("n_lineitems"),
            F.coalesce("revenue_cents", F.lit(0)).cast("long").alias(
                "revenue_cents"
            ),
            "first_order",
            "last_order",
        )
    )


@query(
    "orders_rollup_incremental",
    oracle="""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           min(o_orderdate) AS first_order,
           max(o_orderdate) AS last_order
    FROM orders GROUP BY o_custkey
    """,
    doc="Incremental materialized-rollup maintenance: the per-customer "
    "order rollup is kept as ALGEBRAIC state (count/sum/min/max — "
    "all re-mergeable), so a new batch (doc 10%% sim: o_orderkey % "
    "10 = 7) is aggregated ALONE and merged with the existing state "
    "by one partial-agg union — the nightly-rollup shape that never "
    "rescans history at 100 TB (state rows ∝ keys, batch cost ∝ "
    "batch). The oracle is the full recompute; merged == recomputed "
    "is exactly the algebraic-aggregate law the operator relies on, "
    "so the equivalence is value-verified, not assumed.",
    tags=("etl", "analytics"),
)
def orders_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(cents).alias("total_cents"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )

    is_new = F.col("o_orderkey") % 10 == 7
    old_state = rollup(orders.filter(~is_new))  # the persisted rollup
    batch = rollup(orders.filter(is_new))  # aggregate the batch ALONE
    return (
        old_state.unionByName(batch)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("total_cents").cast("long").alias("total_cents"),
            F.min("first_order").alias("first_order"),
            F.max("last_order").alias("last_order"),
        )
    )


@query(
    "dataset_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT doc_id, source, md5(text) AS h FROM documents
      WHERE doc_id % 10 <> 7),
    new AS (
      SELECT doc_id, source,
             md5(CASE WHEN doc_id % 10 = 5 THEN text || ' v2'
                      ELSE text END) AS h
      FROM documents
      WHERE doc_id % 10 <> 3),
    d AS (
      SELECT coalesce(o.source, n.source) AS source,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.h <> n.h THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM old o FULL OUTER JOIN new n
        ON o.doc_id = n.doc_id)
    SELECT source, change, CAST(count(*) AS BIGINT) AS n_docs
    FROM d GROUP BY source, change
    """,
    doc="Dataset snapshot diff — the audit between two corpus "
    "versions (sim: old = ids %% 10 != 7, new = ids %% 10 != 3, so "
    "both added and removed rows exist): per-source counts of "
    "added/removed/changed/unchanged via ONE full-outer join on the "
    "key with a content-hash compare. The nightly-ingest sanity "
    "check at 100 TB: the join shuffles keys+hashes only (two thin "
    "columns), never document bodies, and the downstream agg is "
    "partial. (The sim mutates residue-5 docs in the new snapshot "
    "so all four classes fire on the real substrate.)",
    tags=("etl",),
)
def dataset_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 7).select(
        F.col("doc_id").alias("o_id"), F.col("source").alias("o_src"),
        F.md5("text").alias("o_h"),
    )
    new = docs.filter(F.col("doc_id") % 10 != 3).select(
        F.col("doc_id").alias("n_id"), F.col("source").alias("n_src"),
        F.md5(
            F.when(
                F.col("doc_id") % 10 == 5, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("n_h"),
    )
    d = old.join(new, old.o_id == new.n_id, "full_outer").select(
        F.coalesce("o_src", "n_src").alias("source"),
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .when(F.col("o_h") != F.col("n_h"), "changed")
        .otherwise("unchanged")
        .alias("change"),
    )
    return d.groupBy("source", "change").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


@query(
    "data_quality_audit",
    oracle="""
    WITH o_stats AS (
      SELECT count(*) AS n,
             sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust,
             sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS nonpos,
             sum(CASE WHEN dayofweek(o_orderdate) IN (0, 6) THEN 1 ELSE 0 END)
               AS weekend,
             count(*) - count(DISTINCT o_orderkey) AS dups
      FROM orders),
    orphan AS (
      SELECT count(*) AS n_orphan
      FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey),
    li AS (
      SELECT count(*) AS n,
             sum(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END)
               AS ship_before,
             sum(CASE WHEN l.l_discount < 0 OR l.l_discount > 0.5
                 THEN 1 ELSE 0 END) AS bad_disc
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT * FROM (
      SELECT 'null_custkey' AS rule, CAST(null_cust AS BIGINT) AS n_violations,
             CAST(n AS BIGINT) AS n_checked FROM o_stats
      UNION ALL
      SELECT 'nonpositive_totalprice', CAST(nonpos AS BIGINT),
             CAST(n AS BIGINT) FROM o_stats
      UNION ALL
      SELECT 'weekend_orderdate', CAST(weekend AS BIGINT),
             CAST(n AS BIGINT) FROM o_stats
      UNION ALL
      SELECT 'duplicate_orderkey', CAST(dups AS BIGINT),
             CAST(n AS BIGINT) FROM o_stats
      UNION ALL
      SELECT 'orphan_custkey', CAST(n_orphan AS BIGINT),
             CAST(n AS BIGINT) FROM orphan, o_stats
      UNION ALL
      SELECT 'ship_before_order', CAST(ship_before AS BIGINT),
             CAST(n AS BIGINT) FROM li
      UNION ALL
      SELECT 'discount_out_of_range', CAST(bad_disc AS BIGINT),
             CAST(n AS BIGINT) FROM li)
    """,
    doc="Rule-based data-quality audit — the pre-ingest contract "
    "check a 100 TB pipeline publishes per batch: 7 rules spanning "
    "row-local invariants (null key, non-positive price, duplicate "
    "key, enum/range bounds), business rules (weekend order dates), "
    "referential integrity (orphan custkeys via anti-join) and "
    "CROSS-TABLE temporal consistency (lineitems shipping before "
    "their order's date — 29k real hits in this substrate). Output "
    "is the (rule, n_violations, n_checked) report. Scale shape: the "
    "row-local rules fold into ONE partial-agged pass per table; the "
    "orphan check is a broadcast/AQE anti-join; the temporal rule's "
    "fact-fact join keys on orderkey — the canonical candidate for "
    "bucketed layout (sources/versioned.py:write_version_bucketed), "
    "which makes it exchange-free at scale. The two stats frames are "
    "lineage-cut 1-row checkpoints (five/two consumers each — "
    "without the cut every union branch re-runs its corpus "
    "aggregate); the 7-row union is scalar frames, not data.",
    tags=("etl",),
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1)
    zero = F.lit(0)
    from utility_service_areas_spark.operators.dedup import lineage_cut

    o_stats = od.agg(
        F.count(one).alias("n"),
        F.sum(F.when(F.col("o_custkey").isNull(), one).otherwise(zero)).alias(
            "null_cust"
        ),
        F.sum(F.when(F.col("o_totalprice") <= 0, one).otherwise(zero)).alias(
            "nonpos"
        ),
        # DuckDB dayofweek: 0=Sunday..6=Saturday; Spark dayofweek:
        # 1=Sunday..7=Saturday — shift to align the enums.
        F.sum(
            F.when((F.dayofweek("o_orderdate") - 1).isin(0, 6), one).otherwise(zero)
        ).alias("weekend"),
        (F.count(one) - F.countDistinct("o_orderkey")).alias("dups"),
    )
    # 1-row frame consumed by FIVE report rows: without the cut each
    # union branch re-runs the whole orders aggregate (Catalyst does
    # not reuse identical subtrees) = five corpus scans for one report.
    o_stats = lineage_cut(o_stats)
    orphan = (
        od.join(cu, od.o_custkey == cu.c_custkey, "left_anti")
        .agg(F.count(one).alias("n_orphan"))
    )
    li_stats = (
        li.join(od.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .agg(
            F.count(one).alias("n"),
            F.sum(
                F.when(F.col("l_shipdate") < F.col("o_orderdate"), one).otherwise(zero)
            ).alias("ship_before"),
            F.sum(
                F.when(
                    (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), one
                ).otherwise(zero)
            ).alias("bad_disc"),
        )
    )
    li_stats = lineage_cut(li_stats)  # consumed by two report rows

    def row(rule, viol_col, n_col, frame):
        return frame.select(
            F.lit(rule).alias("rule"),
            F.col(viol_col).cast("long").alias("n_violations"),
            F.col(n_col).cast("long").alias("n_checked"),
        )
    o_n = o_stats  # single row; reuse for the orphan denominator
    orphan_row = orphan.crossJoin(F.broadcast(o_stats.select("n"))).select(
        F.lit("orphan_custkey").alias("rule"),
        F.col("n_orphan").cast("long").alias("n_violations"),
        F.col("n").cast("long").alias("n_checked"),
    )
    return (
        row("null_custkey", "null_cust", "n", o_n)
        .unionByName(row("nonpositive_totalprice", "nonpos", "n", o_n))
        .unionByName(row("weekend_orderdate", "weekend", "n", o_n))
        .unionByName(row("duplicate_orderkey", "dups", "n", o_n))
        .unionByName(orphan_row)
        .unionByName(row("ship_before_order", "ship_before", "n", li_stats))
        .unionByName(row("discount_out_of_range", "bad_disc", "n", li_stats))
    )


# floor(log10(1 + 1/d) * 1e6) for d = 1..9, precomputed so no
# logarithm is ever evaluated at runtime on either engine (ln/log10
# are NOT cross-engine IEEE-exact — SURVEY §6).
_BENFORD_MICROS = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}
_BENFORD_VALUES_SQL = ", ".join(
    f"({d}, {m})" for d, m in _BENFORD_MICROS.items()
)


@query(
    "revenue_benford_audit",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0),
    digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit,
             count(*) AS n_obs
      FROM cents GROUP BY 1),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM digits),
    ben(digit, expected_micros) AS (VALUES {_BENFORD_VALUES_SQL})
    SELECT b.digit, CAST(coalesce(d.n_obs, 0) AS BIGINT) AS n_obs,
           CAST(coalesce(d.n_obs, 0) * 1000000 // t.n AS BIGINT)
             AS observed_micros,
           CAST(b.expected_micros AS BIGINT) AS expected_micros
    FROM ben b LEFT JOIN digits d USING (digit), tot t
    """,
    doc="Benford's-law first-digit audit over order revenue — the "
    "classic forensic-accounting screen for fabricated or truncated "
    "financial figures: observed leading-digit shares (micros) next "
    "to the Benford expectation floor(log10(1+1/d)*1e6), PRECOMPUTED "
    "as integer literals so no logarithm is evaluated at runtime on "
    "either engine (ln/log10 are not cross-engine IEEE-exact). The "
    "leading digit comes from the integer cents' decimal string — "
    "integer-to-string is format-stable across engines, unlike float "
    "formatting. This substrate's uniform synthetic prices FAIL the "
    "screen loudly (digit 1 at ~22% observed vs 30.1% expected only "
    "for 4-digit-spanning uniforms), which is the point: the audit "
    "detects non-Benford generation processes. Scale shape: one "
    "partial-agged 9-key shuffle + a 1-row total broadcast onto a "
    "9-row literal dim; the corpus is scanned once.",
    tags=("etl",),
)
def revenue_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    digits = (
        od.filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    from utility_service_areas_spark.operators.dedup import lineage_cut

    # 9-row frame consumed by the total AND the final join — cut so
    # the corpus digit agg runs once, not twice.
    digits = lineage_cut(digits)
    tot = digits.agg(F.sum("n_obs").cast("long").alias("n"))
    ben = local_df(spark, 
        sorted(_BENFORD_MICROS.items()), "digit int, expected_micros long"
    )
    return (
        ben.join(digits, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            F.expr("coalesce(n_obs, 0) * 1000000 div n")
            .cast("long")
            .alias("observed_micros"),
            F.col("expected_micros").cast("long"),
        )
    )


def cdc_tiebreak_order():
    """THE deterministic CDC winner order, shared by the batch window
    (#233) and the version-tie property test: highest version wins; on
    a version TIE a delete beats an update (op ASC — 'D' < 'U': a
    same-version delete+update pair resolves to tombstone, the
    defensive read), and two same-version updates break on bal_cents
    ASC NULLS FIRST. r13 ADVICE fix — the r12 window ordered by v DESC
    alone, nondeterministic on duplicate versions."""
    return (
        F.col("v").desc(),
        F.col("op").asc(),
        F.col("bal_cents").asc_nulls_first(),
    )


@query(
    "cdc_latest_version_merge",
    oracle="""
    WITH log AS (
      -- Debezium-style changelog derived from the snapshot: keys
      -- %7=1 get one update (v2); %7=2 get DELETED (v2); %7=3 get
      -- TWO updates delivered out of order (v3 then v2 — the apply
      -- must pick v3); %7=4 get an update (v2) then a delete (v3 —
      -- the delete must win).
      SELECT c_custkey AS k, 2 AS v, 'U' AS op,
             CAST(round(c_acctbal * 100) AS BIGINT) + 10000 AS bal_cents
      FROM customer WHERE c_custkey % 7 IN (1, 3, 4)
      UNION ALL
      SELECT c_custkey, 2, 'D', NULL FROM customer WHERE c_custkey % 7 = 2
      UNION ALL
      SELECT c_custkey, 3, 'U',
             CAST(round(c_acctbal * 100) AS BIGINT) + 30000
      FROM customer WHERE c_custkey % 7 = 3
      UNION ALL
      SELECT c_custkey, 3, 'D', NULL FROM customer WHERE c_custkey % 7 = 4),
    latest AS (
      SELECT k, op, bal_cents FROM (
        SELECT *, row_number() OVER (PARTITION BY k
          ORDER BY v DESC, op ASC, bal_cents ASC NULLS FIRST) AS rn
        FROM log) WHERE rn = 1),
    final AS (
      SELECT s.c_mktsegment,
             CASE WHEN l.op = 'U' THEN l.bal_cents
                  ELSE CAST(round(s.c_acctbal * 100) AS BIGINT) END AS bal
      FROM customer s LEFT JOIN latest l ON l.k = s.c_custkey
      WHERE l.op IS NULL OR l.op <> 'D')
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(bal) AS BIGINT) AS sum_bal_cents
    FROM final GROUP BY c_mktsegment
    """,
    doc="CDC changelog apply (the Debezium/Delta CDF consume side, "
    "completing the ETL family: #62 is a single-batch upsert, #115 "
    "keeps SCD2 history — this applies a VERSIONED, out-of-order "
    "changelog with deletes): latest version per key wins "
    "(row_number over version DESC — one keyed window over the "
    "changelog, never the base), updates override, deletes drop. The "
    "sim plants the three hard cases: out-of-order delivery (v3 "
    "before v2), update-then-delete (delete must win), and untouched "
    "keys. Per-segment row count + exact-cents checksum make any "
    "mis-apply visible. Scale: changelog-sized window + ONE "
    "broadcast-or-keyed left join against the base — the base is "
    "never shuffled by version logic.",
    tags=("etl",),
)
def cdc_latest_version_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    bal = F.round(F.col("c_acctbal") * 100).cast("long")
    k = F.col("c_custkey")
    log = (
        cust.filter((k % 7).isin(1, 3, 4))
        .select(
            k.alias("k"),
            F.lit(2).alias("v"),
            F.lit("U").alias("op"),
            (bal + 10000).alias("bal_cents"),
        )
        .unionByName(
            cust.filter(k % 7 == 2).select(
                k.alias("k"),
                F.lit(2).alias("v"),
                F.lit("D").alias("op"),
                F.lit(None).cast("long").alias("bal_cents"),
            )
        )
        .unionByName(
            cust.filter(k % 7 == 3).select(
                k.alias("k"),
                F.lit(3).alias("v"),
                F.lit("U").alias("op"),
                (bal + 30000).alias("bal_cents"),
            )
        )
        .unionByName(
            cust.filter(k % 7 == 4).select(
                k.alias("k"),
                F.lit(3).alias("v"),
                F.lit("D").alias("op"),
                F.lit(None).cast("long").alias("bal_cents"),
            )
        )
    )
    w = Window.partitionBy("k").orderBy(*cdc_tiebreak_order())
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "op", "bal_cents")
    )
    final = (
        cust.join(latest, F.col("c_custkey") == F.col("k"), "left")
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            "c_mktsegment",
            F.when(F.col("op") == "U", F.col("bal_cents"))
            .otherwise(bal)
            .alias("bal"),
        )
    )
    return final.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("bal").cast("long").alias("sum_bal_cents"),
    )


# Per-process cache of merged versioned-table dirs (the persisted-index
# posture from ann_queries/text_queries): first call builds v0 + the
# merge commit, later calls time-travel-read the existing table.
_VERSIONED_TABLE_DIRS: dict[str, str] = {}


@query(
    "versioned_merge_snapshot",
    oracle="""
    WITH changes AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 13 = 0 THEN 'D' ELSE 'U' END AS op
      FROM customer
      WHERE c_custkey % 13 = 0 OR c_custkey % 7 = 0),
    merged AS (
      SELECT c.c_custkey, c.c_nationkey,
             CASE WHEN ch.op = 'U' THEN c.c_acctbal + 100
                  ELSE c.c_acctbal END AS bal
      FROM customer c LEFT JOIN changes ch USING (c_custkey)
      WHERE ch.op IS NULL OR ch.op = 'U')
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(bal * 100) AS BIGINT)) AS BIGINT)
             AS sum_bal_cents
    FROM merged GROUP BY c_nationkey
    """,
    doc="The LAKEHOUSE MERGE path driver-attested end to end (S35): "
    "customers are committed as a BUCKETED versioned table "
    "(write_version_bucketed, 16 xxhash64 buckets of c_custkey), a "
    "deterministic changeset (custkey%13==0 -> DELETE, else "
    "custkey%7==0 -> UPSERT with acctbal+100) is applied by "
    "merge_version with bucket-level COPY-ON-WRITE — untouched "
    "buckets carry into the new manifest by reference, only touched "
    "buckets are read and rewritten — and this query reads the "
    "merged version back (time travel to the result of the commit) "
    "and aggregates per nation. The oracle replays the merge "
    "RELATIONALLY from the base table, so the whole commit protocol "
    "(bucket layout, COW reuse, manifest claim) sits inside the "
    "value-verified path. Scale: merge cost is O(touched buckets), "
    "commit is one atomic hard-link claim; concurrent writers "
    "conflict loudly (abort, never lost-update). Within a session "
    "the built table dir is cached; a fresh process rebuilds.",
    tags=("etl", "pipeline"),
)
def versioned_merge_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from utility_service_areas_spark.sources.versioned import (
        list_versions,
        merge_version,
        read_version,
        write_version_bucketed,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    key = os.path.abspath(sf_dir)
    table_dir = _VERSIONED_TABLE_DIRS.get(key)
    if table_dir is not None and len(list_versions(table_dir)) < 2:
        table_dir = None
    if table_dir is None:
        table_dir = tempfile.mkdtemp(prefix="usa_vtab_")
        write_version_bucketed(
            cust, table_dir, bucket_cols=["c_custkey"], n_buckets=16
        )
        changes = cust.filter(
            (F.col("c_custkey") % 13 == 0) | (F.col("c_custkey") % 7 == 0)
        ).select(
            "c_custkey",
            "c_nationkey",
            (F.col("c_acctbal") + 100).alias("c_acctbal"),
            F.when(F.col("c_custkey") % 13 == 0, "D").otherwise("U").alias("op"),
        )
        merge_version(spark, table_dir, changes)
        _VERSIONED_TABLE_DIRS[key] = table_dir
    return (
        read_version(spark, table_dir)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
            .cast("long")
            .alias("sum_bal_cents"),
        )
    )


# Per-process cache of streamed medallion silver dirs (same posture as
# _VERSIONED_TABLE_DIRS: the pipeline is deterministic per sf_dir, so
# one build serves every call in the process; a fresh process rebuilds).
_MEDALLION_DIRS: dict[str, str] = {}


@query(
    "medallion_stream_pipeline",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders
    WHERE o_totalprice > 150000
    GROUP BY o_orderpriority
    """,
    doc="S46->S39 MEDALLION composition (#268, VERDICT r16 task #3): "
    "orders land in a BRONZE versioned table across three append "
    "commits (o_orderkey%3 splits); a Structured Streaming job tails "
    "bronze through the versioned-table STREAMING SOURCE (S46), "
    "applies the silver transform per micro-batch (filter "
    "o_totalprice>150000, project, derive exact cents), and commits "
    "each batch EXACTLY-ONCE into a SILVER versioned table through "
    "the idempotent txn_id sink (S39). The third bronze commit lands "
    "AFTER the first drain, so the second drain is a checkpoint "
    "RESTART mid-stream; a RESTORE of bronze to an already-consumed "
    "version (S47) is then drained with ignore_changes and must emit "
    "NOTHING (a restore references only already-emitted dirs). This "
    "query reads the silver END STATE and aggregates per priority; "
    "the oracle replays the whole bronze->silver pipeline "
    "relationally from orders, so stream==batch — the standing "
    "discipline — is what the driver value-verifies. Scale: the "
    "stream moves only each commit's own files (manifest diff, no "
    "re-scan of the table), the sink commit is one atomic hard-link "
    "claim per batch, and a retried batch is a txn no-op — the "
    "incremental bronze->silver story a 100 TB lakehouse needs. "
    "Within a session the built dirs are cached; a fresh process "
    "rebuilds.",
    tags=("etl", "pipeline", "streaming"),
)
def medallion_stream_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from utility_service_areas_spark.sources.versioned import (
        list_versions,
        read_version,
        restore_version,
        write_version,
    )
    from utility_service_areas_spark.streaming.events import (
        versioned_table_stream_writer,
    )

    # No session registers the Python DataSource behind
    # format("versioned_table") up front (not build_session, not the
    # driver harness's own session), so .load() would fail at analysis
    # with DATA_SOURCE_NOT_FOUND. This query is the only registry entry
    # that streams through it.
    from utility_service_areas_spark.sources.pyds import register_versioned_table

    register_versioned_table(spark)

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )

    def silver_transform(df: DataFrame) -> DataFrame:
        # row-wise only: the silver row set must not depend on how the
        # engine batched the bronze commits
        return df.filter(F.col("o_totalprice") > 150000).select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )

    def drain(bronze: str, silver: str, ckpt: str, ignore_changes: bool):
        reader = spark.readStream.format("versioned_table")
        if ignore_changes:
            reader = reader.option("ignore_changes", "true")
        q = (
            versioned_table_stream_writer(
                silver_transform(reader.load(bronze)), silver
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        done = q.awaitTermination(300)
        if not done:
            # Never proceed to read a half-written silver: surface the
            # hang as the error instead of a downstream empty-read.
            q.stop()
            raise RuntimeError(
                "medallion drain did not terminate within 300s "
                f"(bronze={bronze})"
            )

    key = os.path.abspath(sf_dir)
    silver_dir = _MEDALLION_DIRS.get(key)
    if silver_dir is not None and not list_versions(silver_dir):
        silver_dir = None
    if silver_dir is None:
        root = tempfile.mkdtemp(prefix="usa_medallion_")
        bronze = os.path.join(root, "bronze")
        silver = os.path.join(root, "silver")
        ckpt = os.path.join(root, "ckpt")
        for split in (0, 1):  # bronze v0, v1
            write_version(
                orders.filter(F.col("o_orderkey") % 3 == split), bronze
            )
        drain(bronze, silver, ckpt, ignore_changes=False)
        # third bronze commit AFTER the first drain: the next drain is
        # a checkpoint restart picking up only v2
        write_version(orders.filter(F.col("o_orderkey") % 3 == 2), bronze)
        drain(bronze, silver, ckpt, ignore_changes=False)
        # S47 interplay: restore bronze to the already-consumed v1 —
        # a pure re-reference commit; the drain must emit NOTHING
        restore_version(bronze, 1)
        drain(bronze, silver, ckpt, ignore_changes=True)
        _MEDALLION_DIRS[key] = silver
        silver_dir = silver
    return (
        read_version(spark, silver_dir)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )
