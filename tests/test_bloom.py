from __future__ import annotations

from pyspark.sql import functions as F

from utility_service_areas_spark.operators.bloom import (
    bloom_anti_join,
    bloom_membership,
)


def _frames(spark):
    build = spark.createDataFrame(
        [(k,) for k in range(0, 1000, 2)], "key long"
    )  # evens present
    probe = spark.createDataFrame(
        [(i, i % 1000) for i in range(2000)], "rid long, key long"
    )
    return probe, build


def test_bloom_no_false_negatives(spark):
    probe, build = _frames(spark)
    tagged = bloom_membership(probe, build, "key", "key", probe_id="rid")
    # every true member must be flagged maybe_member (no false negatives)
    missed = tagged.filter((F.col("key") % 2 == 0) & ~F.col("__maybe_member"))
    assert missed.count() == 0


def test_bloom_anti_join_equals_plain_anti(spark):
    probe, build = _frames(spark)
    got = bloom_anti_join(probe, build, "key", "key", probe_id="rid")
    want = probe.join(build, "key", "left_anti")
    assert got.count() == want.count() == 1000  # odd keys
    assert (
        got.select("rid").exceptAll(want.select("rid")).count() == 0
        and want.select("rid").exceptAll(got.select("rid")).count() == 0
    )


def test_bloom_tiny_m_degrades_to_exact_not_wrong(spark):
    # With m tiny every probe row becomes a candidate (all bits set) —
    # the exact confirmation must still produce the correct answer.
    probe, build = _frames(spark)
    got = bloom_anti_join(probe, build, "key", "key", m=8, k=2, probe_id="rid")
    assert got.count() == 1000
    assert got.filter(F.col("key") % 2 == 0).count() == 0


def test_bloom_generated_rid_fallback(spark):
    probe, build = _frames(spark)
    got = bloom_anti_join(probe.drop("rid"), build, "key", "key")
    assert got.count() == 1000
    assert got.filter(F.col("key") % 2 == 0).count() == 0


def test_bloom_duplicate_probe_id_fails_loudly(spark):
    """ADVICE r4 probe-side guard: a non-unique probe_id would silently
    misattribute verdicts through the rejoin — it must raise instead."""
    import pytest

    build = spark.createDataFrame([(1,)], "key long")
    probe = spark.createDataFrame(
        [(7, 1), (7, 2)], "rid long, key long"  # duplicate rid
    )
    with pytest.raises(Exception, match="probe_id.*unique"):
        bloom_membership(probe, build, "key", "key", probe_id="rid").collect()


def test_bloom_single_null_probe_id_keeps_row(spark):
    """A single null rid must not vanish in the verdict rejoin."""
    build = spark.createDataFrame([(2,)], "key long")
    probe = spark.createDataFrame(
        [(1, 2), (None, 3)], "rid long, key long"
    )
    out = bloom_membership(probe, build, "key", "key", probe_id="rid").collect()
    assert len(out) == 2
    by_key = {r.key: r["__maybe_member"] for r in out}
    assert by_key[2] is True  # true member flagged
