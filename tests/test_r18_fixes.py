"""Round-18 regression pins.

VERDICT r17 item 1: `medallion_stream_pipeline` failed the driver's
oracle with DATA_SOURCE_NOT_FOUND because it read
`format("versioned_table")` without registering that Python data
source, in a session the driver harness built itself. No session
registers it up front (build_session does not either); the query calls
`register_versioned_table` itself, and this test runs it through the
driver's entry path (`queries()` → a session WITHOUT prior
registration) to pin that.
"""

from __future__ import annotations

import pytest

SMOKE_SF = "/root/testdata/sf0.001"


def test_cpu_spread_skip_if_broadcastable(spark):
    """VERDICT r17 item 3: a spread whose frame may become a broadcast
    build side must be suppressed while the input is under the
    broadcast threshold (an Exchange feeding a BroadcastExchange is
    pure overhead), and apply above it."""
    from pyspark.sql import functions as F

    from utility_service_areas_spark.operators.spread import cpu_spread
    from utility_service_areas_spark.sources.tables import load_table

    li = load_table(spark, SMOKE_SF, "lineitem")
    thresh = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    assert thresh > 0  # session default: 64 MiB

    # Under the threshold: guard suppresses the repartition entirely.
    guarded = cpu_spread(
        li, F.col("l_orderkey"), bytes_per_task=1, skip_if_broadcastable=True
    )
    assert "Repartition" not in guarded._jdf.queryExecution().analyzed().toString()

    # Same frame without the guard still spreads (the sf0.001 scan is
    # 1 partition wide, far under parallelism/4).
    plain = cpu_spread(li, F.col("l_orderkey"), bytes_per_task=1)
    assert "RepartitionByExpression" in (
        plain._jdf.queryExecution().analyzed().toString()
    )

    # Guard is inert once the input exceeds the threshold.
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        wide = cpu_spread(
            li, F.col("l_orderkey"), bytes_per_task=1,
            skip_if_broadcastable=True,
        )
        assert "RepartitionByExpression" in (
            wide._jdf.queryExecution().analyzed().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(thresh))


def test_local_df_name_list_nullable_int_parity(spark):
    """ADVICE r17 (medium): a None in an integer column must not make
    the name-list path coerce the column to double — the stock list
    path infers bigint with nulls, and local_df must match it."""
    from utility_service_areas_spark.operators.localrel import local_df

    rows = [(1, 2), (3, None)]
    got = local_df(spark, rows, ["a", "b"])
    ref = spark.createDataFrame(rows, ["a", "b"])
    assert dict(got.dtypes) == dict(ref.dtypes)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )
    # Float columns must stay float (2.5 is not integral).
    got_f = local_df(spark, [(1, 2.5), (3, None)], ["a", "b"])
    assert dict(got_f.dtypes)["b"] == "double"


def test_empty_local_preserves_non_nullable_fields(spark):
    """ADVICE r17 (low): an empty frame with nullable=false fields must
    keep the declared nullability (unionByName/write-schema checks key
    off it)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from utility_service_areas_spark.operators.localrel import local_df

    st = StructType(
        [
            StructField("k", LongType(), nullable=False),
            StructField("v", StringType(), nullable=True),
        ]
    )
    df = local_df(spark, [], st)
    assert df.count() == 0
    assert [f.nullable for f in df.schema.fields] == [False, True]
    # All-nullable empty frames keep the LocalRelation-style fast path
    # (no RDD in the plan).
    st2 = StructType([StructField("k", LongType(), nullable=True)])
    df2 = local_df(spark, [], st2)
    assert "range" in df2._jdf.queryExecution().analyzed().toString().lower()


def test_shingle_sql_matches_column_builders(spark):
    """r18 batch-F treatment of the ngram path: the pre-rendered
    tokens_sql/shingles_sql strings must be value-identical to the
    tokens()/shingles() Column builders they replace."""
    from pyspark.sql import functions as F

    from utility_service_areas_spark.functions.textops import (
        shingles,
        shingles_sql,
        tokens,
        tokens_sql,
    )
    from utility_service_areas_spark.sources.tables import load_table

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    # Edge rows the builders guard: empty, 1-token, k-1 tokens, tabs.
    edge = spark.createDataFrame(
        [(9001, ""), (9002, "one"), (9003, "two words"),
         (9004, "a\tb\nc  d"), (9005, "  padded   text here  ")],
        "doc_id long, text string",
    )
    frame = docs.unionByName(edge)

    for k in (2, 3, 5):
        col_form = frame.select(
            "doc_id",
            tokens(F.col("text")).alias("tk"),
            shingles(tokens(F.col("text")), k).alias("sh"),
        )
        sql_form = frame.selectExpr(
            "doc_id",
            f"{tokens_sql('text')} AS tk",
            f"{shingles_sql(tokens_sql('text'), k)} AS sh",
        )
        assert col_form.exceptAll(sql_form).isEmpty()
        assert sql_form.exceptAll(col_form).isEmpty()


def test_suffix_lead_matches_join_reference(spark):
    """r18 suffix-rank reshape: the doubling round's shifted rank is
    now a lead() over dense positions instead of a shifted self-join.
    Pin value-equality of the full rank build against the old join
    form on real corpus tokens."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from utility_service_areas_spark.operators.suffix import (
        LRS_K,
        _BANDS,
        _dense_rank_banded,
        _tok_frame,
        build_suffix_ranks,
    )
    from utility_service_areas_spark.sources.tables import load_table

    docs = load_table(spark, SMOKE_SF, "documents").limit(60)
    tok = _tok_frame(docs, "text", "doc_id")
    pos = tok.withColumn(
        "dl",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).cast("long"),
    ).select("doc_id", "i", "dl", F.md5("t").alias("h"))

    k_levels = 4  # enough rounds to exercise the lead at 1, 2, 4, 8

    # Reference: the pre-r18 shifted self-join loop, verbatim.
    band0 = F.conv(F.substring("h", 1, 2), 16, 10).cast("long")
    r0, total = _dense_rank_banded(pos, ["h"], band0)
    ref_ranks = [r0.select("doc_id", "i", "dl", "rk")]
    for k in range(1, k_levels + 1):
        half = 1 << (k - 1)
        prev = ref_ranks[k - 1]
        shifted = prev.select(
            F.col("doc_id").alias("_sd"),
            (F.col("i") - half).alias("_si"),
            F.col("rk").alias("_r2"),
        )
        paired = prev.join(
            shifted,
            (F.col("doc_id") == F.col("_sd"))
            & (F.col("i") == F.col("_si")),
            "left",
        ).select(
            "doc_id",
            "i",
            "dl",
            F.col("rk").alias("r1"),
            F.coalesce("_r2", F.lit(0)).cast("long").alias("r2"),
        )
        band = F.expr(f"CAST(r1 * {_BANDS} AS BIGINT) div {total + 1}")
        ranked, total = _dense_rank_banded(paired, ["r1", "r2"], band)
        ref_ranks.append(ranked.select("doc_id", "i", "dl", "rk"))

    got_ranks = build_suffix_ranks(pos, k_levels)
    for lvl in (0, 1, k_levels):
        got = got_ranks[lvl]
        ref = ref_ranks[lvl]
        assert got.exceptAll(ref).isEmpty() and ref.exceptAll(got).isEmpty(), (
            f"rank level {lvl} diverged from the join reference"
        )
    assert LRS_K >= k_levels


_DRIVER_SIM = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F

# Bare session exactly like the driver harness: NOT build_session, and
# nothing registers the versioned_table data source before the query.
spark = (
    SparkSession.builder.master("local[4]")
    .appName("driver-sim")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from __spark_entry__ import SMOKE_SF_DIR, queries

q = queries()["medallion_stream_pipeline"]
got = {{
    r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
    for r in q(spark, SMOKE_SF_DIR).collect()
}}

from utility_service_areas_spark.sources.tables import load_table

orders = load_table(spark, SMOKE_SF_DIR, "orders")
expect = {{
    r["o_orderpriority"]: (r["n"], r["c"])
    for r in orders.filter(F.col("o_totalprice") > 150000)
    .groupBy("o_orderpriority")
    .agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("c"),
    )
    .collect()
}}
assert got == expect, (got, expect)
print("MEDALLION_DRIVER_SIM_OK")
spark.stop()
"""


def test_medallion_runs_under_driver_harness_session():
    """VERDICT r17 item 1: the driver's oracle failed with
    DATA_SOURCE_NOT_FOUND because the query read `versioned_table`
    without registering it, in a SparkSession the driver built itself.
    Reproduce the driver exactly: a FRESH process, a bare
    SparkSession.builder session, `queries()` entry path. (A
    `newSession()` in this JVM cannot simulate it: Spark 4.1's
    registration uniqueness check is JVM-global while lookup is
    per-session, so a sibling session can neither register nor see the
    source — only a fresh process matches the driver.)"""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER_SIM.format(repo=repo)],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "MEDALLION_DRIVER_SIM_OK" in proc.stdout
