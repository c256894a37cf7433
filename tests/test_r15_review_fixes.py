"""Pins for the five ADVICE r14 review fixes.

1. merge_version rejects op values outside {'U','D'} (both the
   bucketed COW path and the plain full-rewrite fallback) — a typo'd
   op used to fall through as a silent DELETE.
2. compact_bm25_index raises its own lost-docs RuntimeError (not a
   TypeError) when the committed doclens are empty while the manifest
   claims docs.
3. connected_components_twostar verifies the fixpoint directly on
   max_iter exhaustion — a graph converging exactly AT max_iter
   returns correct labels instead of raising.
4. vacuum age gates (BM25 segments + versioned data dirs) key off the
   NEWEST file in the tree, so an in-flight write whose parent dir
   mtime went stale is spared.
5. versioned.vacuum's act phase tolerates a planned dir vanishing
   (concurrent vacuum) and still finishes its delete list.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import backdate_tree


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _ch(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, op string")


# ---------------------------------------------------------------------------
# 1. merge op validation
# ---------------------------------------------------------------------------


def test_merge_rejects_unknown_op_bucketed(spark, tmp_path):
    from utility_service_areas_spark.sources.versioned import (
        merge_version,
        read_version,
        write_version_bucketed,
    )

    t = str(tmp_path / "tbl")
    write_version_bucketed(_kv(spark, [(1, "a"), (2, "b")]), t, ["k"], 4)
    with pytest.raises(ValueError, match="must be 'U' or 'D'"):
        merge_version(spark, t, _ch(spark, [(1, "x", "u")]))
    with pytest.raises(ValueError, match="must be 'U' or 'D'"):
        merge_version(spark, t, _ch(spark, [(2, "y", None)]))
    # nothing committed, base intact
    got = {(r.k, r.v) for r in read_version(spark, t, 0).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_merge_rejects_unknown_op_plain_lineage(spark, tmp_path):
    from utility_service_areas_spark.sources.versioned import (
        list_versions,
        merge_version,
        write_version,
    )

    t = str(tmp_path / "tbl")
    write_version(_kv(spark, [(1, "a")]), t)
    with pytest.raises(ValueError, match="must be 'U' or 'D'"):
        merge_version(
            spark, t, _ch(spark, [(1, "x", "upsert")]), key_cols=["k"]
        )
    assert list_versions(t) == [0]


# ---------------------------------------------------------------------------
# 2. compaction lost-docs diagnostic on corrupted (empty) doclens
# ---------------------------------------------------------------------------


def test_compact_empty_doclens_raises_lost_docs(spark, tmp_path):
    from utility_service_areas_spark.operators.text_index import (
        add_to_bm25_index,
        build_bm25_index,
        compact_bm25_index,
        load_bm25_index,
        _segments_root,
    )

    d = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    build_bm25_index(docs, d)
    add_to_bm25_index(
        spark,
        d,
        spark.createDataFrame([(3, "gamma delta")], "doc_id long, text string"),
    )
    man, _p, _dl = load_bm25_index(spark, d)
    assert len(man["segments"]) == 2 and man["n_docs"] == 3
    # out-of-band corruption: every segment's doclens truncated to empty
    empty = spark.createDataFrame([], "doc_id long, dl bigint")
    for s in man["segments"]:
        empty.write.mode("overwrite").parquet(
            os.path.join(_segments_root(d), s["name"], "doclens")
        )
    with pytest.raises(RuntimeError, match="compaction lost docs"):
        compact_bm25_index(spark, d)


# ---------------------------------------------------------------------------
# 3. two-star convergence exactly at max_iter
# ---------------------------------------------------------------------------


def test_twostar_converging_exactly_at_max_iter_returns_labels(spark):
    from utility_service_areas_spark.operators.graph import (
        connected_components_twostar,
    )

    # A single edge reaches the star fixpoint in round 1; fingerprint
    # EQUALITY would only be observed in round 2, so max_iter=1 used
    # to raise despite correct labels. The exhaustion path now runs
    # one verify round and accepts the fixpoint.
    pairs = spark.createDataFrame([(2, 1)], "doc_a long, doc_b long")
    got = {
        (r.node, r.comp)
        for r in connected_components_twostar(pairs, max_iter=1).collect()
    }
    assert got == {(1, 1), (2, 1)}


def test_twostar_still_raises_when_genuinely_unconverged(spark, monkeypatch):
    from utility_service_areas_spark.operators import graph
    from utility_service_areas_spark.operators.graph import (
        connected_components_twostar,
    )

    # r17: the driver union-find fast path solves a 63-edge chain
    # exactly without iterating — disable it so this still pins the
    # LOOP's exhaustion contract.
    monkeypatch.setattr(graph, "_LOCAL_CC_EDGES", 0)
    # a 64-node path needs several rounds; max_iter=1 + one verify
    # round cannot reach the fixpoint -> loud failure, never wrong labels
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_twostar(pairs, max_iter=1)


# ---------------------------------------------------------------------------
# 4. tree-mtime age gates spare in-flight writes
# ---------------------------------------------------------------------------


def test_bm25_vacuum_spares_segment_with_fresh_inner_file(spark, tmp_path):
    from utility_service_areas_spark.operators.text_index import (
        build_bm25_index,
        vacuum_bm25_index,
        _segments_root,
    )

    d = str(tmp_path / "idx")
    build_bm25_index(
        spark.createDataFrame([(1, "alpha")], "doc_id long, text string"), d
    )
    # orphan staging dir: top-level mtime ancient, but one file inside
    # is FRESH (a parquet write still landing) -> must be spared
    inflight = os.path.join(_segments_root(d), "_tmp-seg-inflight")
    os.makedirs(os.path.join(inflight, "postings"))
    backdate_tree(inflight)
    with open(os.path.join(inflight, "postings", "part-live"), "w") as f:
        f.write("x")
    os.utime(inflight, (0, 0))  # parent dir LOOKS ancient

    plan = vacuum_bm25_index(d, grace_seconds=3600, dry_run=True)
    assert "_tmp-seg-inflight" not in plan["dirs"]

    # once the whole tree is stale it goes
    backdate_tree(inflight)
    plan = vacuum_bm25_index(d, grace_seconds=3600)
    assert "_tmp-seg-inflight" in plan["dirs"]
    assert not os.path.exists(inflight)


def test_versioned_vacuum_spares_dir_with_fresh_inner_file(spark, tmp_path):
    from utility_service_areas_spark.sources.versioned import (
        vacuum,
        write_version,
    )

    t = str(tmp_path / "tbl")
    write_version(_kv(spark, [(1, "a")]), t)
    inflight = os.path.join(t, "data", "commit-inflight")
    os.makedirs(inflight)
    backdate_tree(inflight)
    with open(os.path.join(inflight, "part-live.parquet"), "w") as f:
        f.write("x")
    os.utime(inflight, (0, 0))  # stale parent, fresh child

    plan = vacuum(t, keep_last=1, dry_run=True)
    assert os.path.join("data", "commit-inflight") not in plan["dirs"]
    backdate_tree(inflight)
    vacuum(t, keep_last=1)
    assert not os.path.exists(inflight)


# ---------------------------------------------------------------------------
# 5. vacuum act phase survives a concurrently-removed planned dir
# ---------------------------------------------------------------------------


def test_vacuum_finishes_list_when_dir_vanishes_midway(
    spark, tmp_path, monkeypatch
):
    import shutil as shutil_mod

    from utility_service_areas_spark.sources.versioned import (
        vacuum,
        write_version,
    )

    t = str(tmp_path / "tbl")
    write_version(_kv(spark, [(1, "a")]), t)
    orphans = []
    for name in ("commit-gone-aa", "commit-gone-bb"):
        p = os.path.join(t, "data", name)
        os.makedirs(p)
        with open(os.path.join(p, "junk"), "w") as f:
            f.write("x")
        backdate_tree(p)
        orphans.append(p)

    calls = {"n": 0}
    real_rmtree = shutil_mod.rmtree

    def racing_rmtree(path, *a, **kw):
        # a concurrent vacuum deletes the dir an instant before us
        calls["n"] += 1
        if calls["n"] == 1 and os.path.exists(path):
            real_rmtree(path)
        return real_rmtree(path, *a, **kw)

    # versioned.vacuum imports shutil at function scope -> patch the
    # module attribute itself (monkeypatch restores it afterwards)
    monkeypatch.setattr(shutil_mod, "rmtree", racing_rmtree)
    plan = vacuum(t, keep_last=1)  # must not raise
    assert plan["dirs_removed"] == 2
    for p in orphans:
        assert not os.path.exists(p)
