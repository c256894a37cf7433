"""Regression pins for the round-13 code-review findings — each test
is the failure scenario from the review, now pinned fixed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.mark.usefixtures("versioned_table")
def test_datasource_survives_reordered_column_append(spark, tmp_path):
    """Review #1 (confirmed live): append allows schema-valid column
    REORDERING (the name+type check is order-insensitive), but Arrow
    batches bind positionally — the reader must re-project every
    batch to the announced schema order or it crashes (mixed types)
    or silently swaps values (same types)."""
    from utility_service_areas_spark.sources.versioned import write_version

    t = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([(1, "a")], "k long, v string"), t
    )
    write_version(
        spark.createDataFrame([("b", 2)], "v string, k long"),
        t,
        mode="append",
    )
    got = {
        (r.k, r.v)
        for r in spark.read.format("versioned_table").load(t).collect()
    }
    assert got == {(1, "a"), (2, "b")}

    # same-typed reorder: values must not swap
    t2 = str(tmp_path / "tbl2")
    write_version(
        spark.createDataFrame([(1, 100)], "k long, val long"), t2
    )
    write_version(
        spark.createDataFrame([(200, 2)], "val long, k long"),
        t2,
        mode="append",
    )
    got = {
        (r.k, r.val)
        for r in spark.read.format("versioned_table").load(t2).collect()
    }
    assert got == {(1, 100), (2, 200)}


def test_score_stream_respects_injected_model_dim(spark, tmp_path):
    """Review #2: an injected production model with a dimension other
    than the fake's 4 must NOT have every row rejected (output_dim is
    only pinned when the fake is in play). The builder is a stateless
    projection, so driving it with a batch frame exercises the same
    code path the stream runs."""
    from utility_service_areas_spark.streaming.events import (
        score_documents_stream,
    )

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )

    def eight_dim(texts):
        return [[float(len(t))] * 8 for t in texts]

    rows = score_documents_stream(docs, model_fn=eight_dim).collect()
    assert all(r.status == "ok" for r in rows)
    assert all(len(r.output) == 8 for r in rows)


def test_merge_refuses_ambiguous_duplicate_key_changeset(spark, tmp_path):
    """Review #3: a changeset with two rows for one key is ambiguous
    (D+U would lose the delete; U+U would break key uniqueness) —
    merge must refuse loudly, and the table must be unchanged."""
    from utility_service_areas_spark.sources.versioned import (
        list_versions,
        merge_version,
        write_version_bucketed,
    )

    t = str(tmp_path / "tbl")
    write_version_bucketed(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        t,
        ["k"],
        4,
    )
    bad = spark.createDataFrame(
        [(1, "x", "U"), (1, None, "D")], "k long, v string, op string"
    )
    with pytest.raises(ValueError, match="multiple rows"):
        merge_version(spark, t, bad)
    assert list_versions(t) == [0]


def test_bm25_add_dedupes_within_the_batch(spark, tmp_path):
    """Review #4: duplicate doc_ids INSIDE one add batch (upstream
    union without dedup / a retried batch concatenation) must not
    double-count tf/dl — one deterministic row per id survives."""
    from utility_service_areas_spark.operators.text_index import (
        add_to_bm25_index,
        build_bm25_index,
        load_bm25_index,
    )

    base = spark.createDataFrame(
        [(1, "alpha beta", "en", "s", 10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "idx")
    build_bm25_index(base, d)
    dup_batch = spark.createDataFrame(
        [(2, "gamma delta", "en", "s", 11), (2, "gamma delta", "en", "s", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    manifest = add_to_bm25_index(spark, d, dup_batch)
    assert manifest["n_docs"] == 2
    assert manifest["l_total"] == 4  # 2 + 2, not 2 + 4
    _m, postings, doclens = load_bm25_index(spark, d)
    assert doclens.filter("doc_id = 2").count() == 1
    assert postings.groupBy("t", "doc_id").count().filter("count > 1").count() == 0


def test_targets_hash_sees_module_attribute_callees():
    """Review #5: a build calling `helpers.clean(df)` (module-attribute
    reference) must change its code hash when helpers.clean changes."""
    import types

    from utility_service_areas_spark.plans.targets import _build_code_hash

    mod = types.ModuleType("utility_service_areas_spark._fake_helpers")

    def clean_v1(x):
        return x + 1

    def clean_v2(x):
        return x + 2

    clean_v1.__module__ = mod.__name__
    clean_v2.__module__ = mod.__name__

    ns = {"helpers": mod, "__builtins__": {}}
    exec("def build(df):\n    return helpers.clean(df)\n", ns)
    build = ns["build"]

    mod.clean = clean_v1
    h1 = _build_code_hash(build)
    mod.clean = clean_v2
    h2 = _build_code_hash(build)
    assert h1 != h2  # the callee edit invalidates the stage key


def test_vacuum_refuses_keep_last_zero(spark, tmp_path):
    """Review #9: vacuum(keep_last=0) would silently destroy the whole
    table — it must raise and touch nothing."""
    from utility_service_areas_spark.sources.versioned import (
        list_versions,
        vacuum,
        write_version,
    )

    t = str(tmp_path / "tbl")
    write_version(spark.createDataFrame([(1, "a")], "k long, v string"), t)
    with pytest.raises(ValueError, match="retain NOTHING"):
        vacuum(t, keep_last=0)
    assert list_versions(t) == [0]
