"""sparkhash.py: the planner-side xxhash64 replica and the bucket
pruning it enables in the versioned-table DataSource (r16).

The replica pin is exhaustive across types, signs, and chaining —
bucket pruning DROPS files, so a drifted hash must fail here, never
silently mis-prune."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from utility_service_areas_spark.functions.sparkhash import (
    spark_hash_bucket,
    spark_xxhash64,
)


def test_replica_matches_spark_xxhash64_across_types(spark):
    import random

    rng = random.Random(42)
    longs = [0, 1, -1, 2**62, -(2**62), 2**63 - 1, -(2**63)] + [
        rng.randint(-(2**63), 2**63 - 1) for _ in range(50)
    ]
    got = spark.createDataFrame([(v,) for v in longs], "k long").select(
        "k", F.xxhash64("k").alias("h")
    )
    for r in got.collect():
        assert spark_xxhash64([(r.k, "bigint")]) == r.h, r.k

    ints = [0, 1, -1, 2**31 - 1, -(2**31)] + [
        rng.randint(-(2**31), 2**31 - 1) for _ in range(30)
    ]
    got = spark.createDataFrame([(v,) for v in ints], "k int").select(
        "k", F.xxhash64("k").alias("h")
    )
    for r in got.collect():
        assert spark_xxhash64([(r.k, "int")]) == r.h, r.k

    strs = ["", "a", "hello world", "räksmörgås", "naïve—🙂", "x" * 100]
    got = spark.createDataFrame([(v,) for v in strs], "s string").select(
        "s", F.xxhash64("s").alias("h")
    )
    for r in got.collect():
        assert spark_xxhash64([(r.s, "string")]) == r.h, r.s

    dates = [datetime.date(1970, 1, 1), datetime.date(1995, 3, 15),
             datetime.date(1969, 12, 31), datetime.date(2038, 1, 19)]
    got = spark.createDataFrame([(v,) for v in dates], "d date").select(
        "d", F.xxhash64("d").alias("h")
    )
    for r in got.collect():
        assert spark_xxhash64([(r.d, "date")]) == r.h, r.d

    for b in (True, False):
        h = (
            spark.createDataFrame([(b,)], "b boolean")
            .select(F.xxhash64("b").alias("h"))
            .collect()[0]
            .h
        )
        assert spark_xxhash64([(b, "boolean")]) == h, b


def test_replica_matches_chaining_and_null_skip(spark):
    rows = [(1, "a"), (2, None), (None, "b"), (None, None), (7, "xy")]
    got = spark.createDataFrame(rows, "k long, s string").select(
        "k", "s", F.xxhash64("k", "s").alias("h")
    )
    for r in got.collect():
        assert spark_xxhash64([(r.k, "bigint"), (r.s, "string")]) == r.h, (
            r.k,
            r.s,
        )


def test_bucket_matches_versioned_layout(spark):
    """spark_hash_bucket reproduces _bucket_of (pmod(xxhash64, n)) for
    every key in a real bucketed write."""
    from utility_service_areas_spark.sources.versioned import _bucket_of

    df = spark.createDataFrame([(k,) for k in range(-50, 200)], "k long")
    got = df.select("k", _bucket_of(df, ["k"], 8).alias("b")).collect()
    for r in got:
        assert spark_hash_bucket([(r.k, "bigint")], 8) == r.b, r.k


@pytest.mark.usefixtures("versioned_table")
def test_datasource_bucket_pruning_plans_only_matching_buckets(spark, tmp_path):
    """On a bucketed lineage, EqualTo/In on the bucket key restricts
    the planned partitions to the matching buckets' files — and the
    answers stay exact."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    from utility_service_areas_spark.sources.pyds import VersionedTableReader
    from utility_service_areas_spark.sources.versioned import (
        write_version_bucketed,
    )

    t = str(tmp_path / "tbl")
    write_version_bucketed(
        spark.createDataFrame(
            [(k, f"v{k}") for k in range(200)], "k long, v string"
        ),
        t,
        ["k"],
        n_buckets=8,
    )
    schema = spark.read.format("versioned_table").load(t).schema
    base = VersionedTableReader({"path": t}, schema)
    n_all = len(base.partitions())

    r1 = VersionedTableReader({"path": t}, schema)
    list(r1.pushFilters([EqualTo(("k",), 37)]))
    b = spark_hash_bucket([(37, "bigint")], 8)
    n_b = len(
        VersionedTableReader({"path": t}, schema).partitions()
    )  # unused guard: full listing exists
    assert n_b == n_all
    assert 0 < len(r1.partitions()) < n_all
    # exactly the files of bucket b (zone pruning may shave further,
    # but every planned file must belong to bucket b's dirs)
    import json
    import os

    with open(os.path.join(t, "_v0.json")) as f:
        man = json.load(f)
    bucket_dirs = {os.path.join(t, d) for d in man["buckets"][str(b)]}
    for p in r1.partitions():
        assert os.path.dirname(p.file_path) in bucket_dirs

    r2 = VersionedTableReader({"path": t}, schema)
    list(r2.pushFilters([In(("k",), (37, 111))]))
    want_buckets = {
        spark_hash_bucket([(37, "bigint")], 8),
        spark_hash_bucket([(111, "bigint")], 8),
    }
    got_dirs = {os.path.dirname(p.file_path) for p in r2.partitions()}
    allowed = {
        os.path.join(t, d)
        for bb in want_buckets
        for d in man["buckets"][str(bb)]
    }
    assert got_dirs <= allowed

    # a range predicate pins no bucket: full file set (minus zone cuts)
    r3 = VersionedTableReader({"path": t}, schema)
    list(r3.pushFilters([GreaterThan(("k",), -1)]))
    assert len(r3.partitions()) == n_all

    # contradictory conjunction -> zero partitions
    r4 = VersionedTableReader({"path": t}, schema)
    list(r4.pushFilters([EqualTo(("k",), 37), In(("k",), (111,))]))
    assert r4.partitions() == []

    # end-to-end correctness through Spark's planner
    got = (
        spark.read.format("versioned_table")
        .load(t)
        .filter("k = 37 or k = 111")
        .collect()
    )
    assert sorted((r.k, r.v) for r in got) == [(37, "v37"), (111, "v111")]


@pytest.mark.usefixtures("versioned_table")
def test_bucket_pruning_composes_with_merge_and_skips_gracefully(
    spark, tmp_path
):
    """Pruning keeps answering exactly after COW merges (bucket dirs
    move), and an unsupported filter shape falls back to the full
    scan, never an error."""
    from pyspark.sql.datasource import EqualTo

    from utility_service_areas_spark.sources.pyds import VersionedTableReader
    from utility_service_areas_spark.sources.versioned import (
        merge_version,
        write_version_bucketed,
    )

    t = str(tmp_path / "tbl")
    write_version_bucketed(
        spark.createDataFrame(
            [(k, f"v{k}") for k in range(64)], "k long, v string"
        ),
        t,
        ["k"],
        n_buckets=4,
    )
    merge_version(
        spark,
        t,
        spark.createDataFrame(
            [(3, "MERGED", "U"), (5, None, "D")], "k long, v string, op string"
        ),
    )
    df = spark.read.format("versioned_table").load(t)
    assert [(r.k, r.v) for r in df.filter("k = 3").collect()] == [(3, "MERGED")]
    assert df.filter("k = 5").collect() == []
    schema = df.schema
    r = VersionedTableReader({"path": t}, schema)
    list(r.pushFilters([EqualTo(("k",), 3)]))
    n_all = len(VersionedTableReader({"path": t}, schema).partitions())
    assert 0 < len(r.partitions()) < n_all
