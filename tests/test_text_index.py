"""Persisted BM25 text-index lifecycle (operators/text_index.py, S34).

The text twin of the IVFPQ lifecycle: build once -> parquet postings
artifacts -> search many; EXACT incremental add (additive corpus
stats: append == rebuild over the union corpus); first-writer-wins
doc_id idempotence; manifest-last commit (a crashed build is never
readable). r14 (format v2): atomic per-batch segments — a torn add is
invisible and a retried batch lands exactly once (ADVICE r13 #1);
bucketed-by-term postings with partition-pruned search (VERDICT task
4); additive manifest counts + repair recount + compaction (task 5).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF

from utility_service_areas_spark.operators.text_index import (
    add_to_bm25_index,
    build_bm25_index,
    load_bm25_index,
    search_bm25_index,
)
from utility_service_areas_spark.plans.registry import physical_plan
from utility_service_areas_spark.sources.fsutil import MANIFEST_NAME, vacuum_index
from utility_service_areas_spark.sources.tables import load_table


def _docs(spark):
    return load_table(spark, SMOKE_SF, "documents")


def _qterms(spark):
    from utility_service_areas_spark.plans.text_queries import _BM25_QUERIES

    return spark.createDataFrame(
        [(qid, t) for qid, qs in _BM25_QUERIES for t in qs.split()],
        "query_id string, t string",
    )


def test_search_from_artifacts_row_identical_to_inline(spark, tmp_path):
    """The headline pin: build -> persist -> search-from-artifacts
    returns EXACTLY the rows of the inline text_bm25_topk (#219) over
    the same corpus — tf/dl round-trip through parquet losslessly and
    the scoring expressions are replayed operand for operand."""
    from utility_service_areas_spark.plans.text_queries import text_bm25_topk

    docs = _docs(spark)
    d = str(tmp_path / "idx")
    manifest = build_bm25_index(docs, d)
    assert manifest["n_docs"] == docs.count()

    got = sorted(
        map(tuple, search_bm25_index(spark, d, _qterms(spark)).collect())
    )
    want = sorted(map(tuple, text_bm25_topk(spark, SMOKE_SF).collect()))
    assert got == want
    assert len(got) == 30  # 3 queries x top-10


def test_incremental_add_equals_full_rebuild(spark, tmp_path):
    """The EXACTNESS pin that distinguishes the text index from the
    frozen-codebook vector index: build over half the corpus, add the
    other half, and the merged artifacts answer queries IDENTICALLY
    to an index built from scratch over the full corpus — df/N/L are
    additive counts recomputed from the stores at search time."""
    docs = _docs(spark)
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)

    inc_dir = str(tmp_path / "inc")
    build_bm25_index(half_a, inc_dir)
    manifest = add_to_bm25_index(spark, inc_dir, half_b)
    assert manifest["n_adds"] == 1
    assert manifest["n_docs"] == docs.count()

    full_dir = str(tmp_path / "full")
    full_manifest = build_bm25_index(docs, full_dir)
    assert full_manifest["n_docs"] == manifest["n_docs"]
    assert full_manifest["l_total"] == manifest["l_total"]

    q = _qterms(spark)
    got = sorted(map(tuple, search_bm25_index(spark, inc_dir, q).collect()))
    want = sorted(map(tuple, search_bm25_index(spark, full_dir, q).collect()))
    assert got == want
    assert len(got) == 30


def test_re_add_existing_doc_is_noop(spark, tmp_path):
    """First-writer-wins: re-adding doc_ids already in the index
    changes NOTHING (a retried add batch cannot double-count tf/df),
    and the manifest counts stay exact."""
    docs = _docs(spark)
    d = str(tmp_path / "idx")
    built = build_bm25_index(docs, d)

    some = docs.filter(F.col("doc_id") < 50)
    manifest = add_to_bm25_index(spark, d, some)
    assert manifest["n_docs"] == built["n_docs"]
    assert manifest["l_total"] == built["l_total"]

    _m, postings, doclens = load_bm25_index(spark, d)
    assert doclens.groupBy("doc_id").count().filter("count > 1").count() == 0
    dup_postings = (
        postings.groupBy("t", "doc_id").count().filter("count > 1").count()
    )
    assert dup_postings == 0


def test_uncommitted_index_is_never_readable(spark, tmp_path):
    """Manifest-last commit: a build that crashed before the manifest
    (simulated by deleting it) raises on load — partial parquet is
    invisible, the S31 posture."""
    docs = _docs(spark).limit(20)
    d = str(tmp_path / "idx")
    build_bm25_index(docs, d)
    os.remove(os.path.join(d, MANIFEST_NAME))
    with pytest.raises(FileNotFoundError, match="never|missing"):
        load_bm25_index(spark, d)
    with pytest.raises(FileNotFoundError):
        search_bm25_index(spark, d, _qterms(spark))


def test_format_version_gate(spark, tmp_path):
    docs = _docs(spark).limit(20)
    d = str(tmp_path / "idx")
    build_bm25_index(docs, d)
    mpath = os.path.join(d, MANIFEST_NAME)
    with open(mpath) as f:
        m = json.load(f)
    m["format_version"] = 999
    with open(mpath, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="format"):
        load_bm25_index(spark, d)


def test_search_plan_shape(spark, tmp_path):
    """Scale pins on the from-artifacts plan: the query-term dim and
    the per-term stats join as broadcasts (no shuffle of the pruned
    postings for them), the per-query top-k compiles to the
    WindowGroupLimit pushdown, and the registry-wide anti-patterns
    (cartesian product, Python row UDF) stay absent."""
    docs = _docs(spark)
    d = str(tmp_path / "idx")
    build_bm25_index(docs, d)
    plan = physical_plan(search_bm25_index(spark, d, _qterms(spark)))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan

def test_torn_add_is_invisible_and_retry_lands_exactly_once(
    spark, tmp_path, monkeypatch
):
    """ADVICE r13 #1 regression: crash an add AFTER its segment is
    fully staged+renamed but BEFORE the manifest commit (the widest
    torn window the v2 layout has). The torn segment must be invisible
    to search AND to the retry's anti-join, so the retried batch
    commits exactly once — no doubled tf/df, counts equal a
    from-scratch rebuild (the S38 exactly-once claim across a failure
    inside feed_batch)."""
    from utility_service_areas_spark.sources import fsutil

    docs = _docs(spark)
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    d = str(tmp_path / "idx")
    build_bm25_index(half_a, d)
    q = _qterms(spark)
    before = sorted(map(tuple, search_bm25_index(spark, d, q).collect()))

    real_commit = fsutil.commit_manifest

    def crash(index_dir, manifest):
        raise RuntimeError("simulated crash before manifest commit")

    monkeypatch.setattr(fsutil, "commit_manifest", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        add_to_bm25_index(spark, d, half_b)
    monkeypatch.setattr(fsutil, "commit_manifest", real_commit)

    # torn segment staged on disk but absent from every read path
    seg_dirs = os.listdir(os.path.join(d, "segments"))
    m, postings, doclens = load_bm25_index(spark, d)
    assert len(seg_dirs) == 2 and len(m["segments"]) == 1
    assert m["n_docs"] == half_a.count()
    assert (
        sorted(map(tuple, search_bm25_index(spark, d, q).collect())) == before
    )

    # the RETRY of the same batch commits exactly once
    manifest = add_to_bm25_index(spark, d, half_b)
    full_dir = str(tmp_path / "full")
    full = build_bm25_index(docs, full_dir)
    assert manifest["n_docs"] == full["n_docs"]
    assert manifest["l_total"] == full["l_total"]
    _m, postings, doclens = load_bm25_index(spark, d)
    assert doclens.groupBy("doc_id").count().filter("count > 1").count() == 0
    assert (
        postings.groupBy("t", "doc_id").count().filter("count > 1").count()
        == 0
    )
    got = sorted(map(tuple, search_bm25_index(spark, d, q).collect()))
    want = sorted(map(tuple, search_bm25_index(spark, full_dir, q).collect()))
    assert got == want


def test_search_prunes_postings_partitions(spark, tmp_path):
    """VERDICT r13 task #4: postings are laid out bucketed-by-term
    (pbucket = pmod(xxhash64(t), B) partition dirs), and the search
    plan prunes the postings scan to the query terms' buckets — the
    scan carries a PartitionFilters entry on pbucket (directory-level
    pruning, not a full postings scan) and reads fewer partitions
    than the index holds."""
    docs = _docs(spark)
    d = str(tmp_path / "idx")
    m = build_bm25_index(docs, d)
    seg = m["segments"][0]["name"]
    n_dirs = len(
        [
            x
            for x in os.listdir(
                os.path.join(d, "segments", seg, "postings")
            )
            if x.startswith("pbucket=")
        ]
    )
    assert n_dirs > 1  # corpus terms spread over many buckets

    df = search_bm25_index(spark, d, _qterms(spark))
    plan = physical_plan(df)
    assert "PartitionFilters" in plan and "pbucket" in plan
    # the pruned scan still broadcast-joins the query dim; no postings
    # shuffle appears before it
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_compaction_preserves_search_and_counts(spark, tmp_path):
    """VERDICT r13 task #5 + r14 review #2: compaction folds all
    segments into one with IDENTICAL search results and additive
    counts carried over — WITHOUT deleting the retired dirs (an
    in-flight reader on the old manifest keeps working); the separate
    age-gated vacuum reclaims them: a young retired dir is spared, a
    stale one swept, and search is unaffected throughout."""
    docs = _docs(spark)
    d = str(tmp_path / "idx")
    build_bm25_index(docs.filter(F.col("doc_id") % 3 == 0), d)
    add_to_bm25_index(spark, d, docs.filter(F.col("doc_id") % 3 == 1))
    m = add_to_bm25_index(spark, d, docs.filter(F.col("doc_id") % 3 == 2))
    assert len(m["segments"]) == 3
    q = _qterms(spark)
    before = sorted(map(tuple, search_bm25_index(spark, d, q).collect()))
    # an in-flight reader: frames loaded BEFORE the compaction
    _m_old, old_postings, _old_doclens = load_bm25_index(spark, d)

    from utility_service_areas_spark.operators.text_index import (
        compact_bm25_index,
    )

    m2 = compact_bm25_index(spark, d)
    assert len(m2["segments"]) == 1
    assert m2["n_docs"] == m["n_docs"] and m2["l_total"] == m["l_total"]
    assert m2["n_compactions"] == 1
    seg_root = os.path.join(d, "segments")
    assert len(os.listdir(seg_root)) == 4  # 3 retired + 1 new, all kept
    # the pre-compaction reader still completes (dirs not yanked)
    assert old_postings.count() > 0
    after = sorted(map(tuple, search_bm25_index(spark, d, q).collect()))
    assert after == before

    # vacuum: young retired dirs spared (grace), stale ones swept
    plan = vacuum_index(d, grace_seconds=3600, dry_run=True)
    assert plan["dirs"] == []  # everything is younger than the grace
    from tests.conftest import backdate_tree

    for name in os.listdir(seg_root):
        if name not in {s["name"] for s in m2["segments"]}:
            backdate_tree(os.path.join(seg_root, name))
    plan = vacuum_index(d, grace_seconds=3600, dry_run=True)
    assert plan["dirs_removed"] == 3 and plan["dry_run"]
    assert len(os.listdir(seg_root)) == 4  # dry run touched nothing
    real = vacuum_index(d, grace_seconds=3600)
    assert real["dirs"] == plan["dirs"]
    assert len(os.listdir(seg_root)) == 1
    assert (
        sorted(map(tuple, search_bm25_index(spark, d, q).collect())) == before
    )


def test_compact_every_bounds_segment_count(spark, tmp_path):
    """add_to_bm25_index(compact_every=N) self-compacts when the
    segment count reaches N — a long streaming feed cannot accrue
    unbounded small-file segments."""
    docs = _docs(spark)
    d = str(tmp_path / "idx")
    build_bm25_index(docs.filter(F.col("doc_id") % 4 == 0), d)
    for r in (1, 2, 3):
        m = add_to_bm25_index(
            spark,
            d,
            docs.filter(F.col("doc_id") % 4 == r),
            compact_every=2,
        )
        assert len(m["segments"]) == 1  # hit the bound -> compacted
    full = build_bm25_index(docs, str(tmp_path / "full"))
    assert m["n_docs"] == full["n_docs"] and m["l_total"] == full["l_total"]


def test_add_is_additive_and_repair_recounts(spark, tmp_path):
    """The manifest counts are ADDITIVE (an add never recounts the
    committed store — VERDICT task #5): corrupt a committed segment
    entry's count and the next add propagates the corruption additively
    (proof no recount happened), then repair_bm25_manifest — the
    explicit O(store) recount path — restores the truth."""
    from utility_service_areas_spark.operators.text_index import (
        repair_bm25_manifest,
    )

    docs = _docs(spark)
    d = str(tmp_path / "idx")
    m0 = build_bm25_index(docs.filter(F.col("doc_id") % 2 == 0), d)
    true_first = m0["segments"][0]["n_docs"]

    mpath = os.path.join(d, MANIFEST_NAME)
    with open(mpath) as f:
        m = json.load(f)
    m["segments"][0]["n_docs"] += 5
    m["n_docs"] += 5
    with open(mpath, "w") as f:
        json.dump(m, f)

    m1 = add_to_bm25_index(spark, d, docs.filter(F.col("doc_id") % 2 == 1))
    seg2 = m1["segments"][1]["n_docs"]
    assert m1["n_docs"] == true_first + 5 + seg2  # additive, no recount

    m2 = repair_bm25_manifest(spark, d)
    assert m2["n_docs"] == docs.count()
    assert m2["segments"][0]["n_docs"] == true_first


# ---------------------------------------------------------------------------
# r16: manifest generation claims on the BM25 store (the vector_index
# protocol shared via fsutil) — concurrent writers
# ---------------------------------------------------------------------------


def test_concurrent_disjoint_adds_both_commit(spark, tmp_path, monkeypatch):
    """Two adds racing on the manifest with DISJOINT doc_ids both
    land: the loser's claim fails, it re-reads the winner's manifest,
    verifies disjointness against the winner's new doclens, and
    re-applies its delta."""
    from utility_service_areas_spark.sources import fsutil

    docs = _docs(spark)
    d = str(tmp_path / "idx")
    build_bm25_index(docs.filter(F.col("doc_id") < 100), d)
    add_a = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    add_b = docs.filter(F.col("doc_id") >= 400)
    n_total = (
        docs.filter(
            (F.col("doc_id") < 200) | (F.col("doc_id") >= 400)
        ).count()
    )

    real_commit = fsutil.commit_manifest
    state = {"raced": False}

    def racing_commit(index_dir, manifest):
        if not state["raced"]:
            state["raced"] = True
            monkeypatch.setattr(fsutil, "commit_manifest", real_commit)
            add_to_bm25_index(spark, d, add_b)  # B wins the claim
        return real_commit(index_dir, manifest)

    monkeypatch.setattr(fsutil, "commit_manifest", racing_commit)
    manifest = add_to_bm25_index(spark, d, add_a)
    assert manifest["n_docs"] == n_total  # nothing lost
    assert len(manifest["segments"]) == 3
    _m, _p, doclens = load_bm25_index(spark, d)
    assert doclens.count() == n_total


def test_concurrent_overlapping_adds_abort_loudly(spark, tmp_path, monkeypatch):
    """If the racing winner committed any of OUR doc_ids first, the
    loser must abort (its anti-join ran against a stale committed set;
    rebasing would double-count the doc) — and the store still answers
    from the winner's consistent state."""
    from utility_service_areas_spark.sources import fsutil

    docs = _docs(spark)
    d = str(tmp_path / "idx")
    build_bm25_index(docs.filter(F.col("doc_id") < 100), d)
    same = docs.filter(F.col("doc_id") >= 400)

    real_commit = fsutil.commit_manifest
    state = {"raced": False}

    def racing_commit(index_dir, manifest):
        if not state["raced"]:
            state["raced"] = True
            monkeypatch.setattr(fsutil, "commit_manifest", real_commit)
            add_to_bm25_index(spark, d, same)  # B commits the SAME docs
        return real_commit(index_dir, manifest)

    monkeypatch.setattr(fsutil, "commit_manifest", racing_commit)
    with pytest.raises(RuntimeError, match="first-writer-wins"):
        add_to_bm25_index(spark, d, same)
    manifest, _p, doclens = load_bm25_index(spark, d)
    assert doclens.count() == manifest["n_docs"]  # counts stay honest
    # the documented recovery: re-running the add skips committed docs
    again = add_to_bm25_index(spark, d, same)
    assert again["n_docs"] == manifest["n_docs"]


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


def test_compact_empty_doclens_raises_lost_docs(spark, tmp_path):
    """compact_bm25_index raises its own lost-docs RuntimeError (not a
    TypeError) when the committed doclens are empty while the manifest
    claims docs."""
    from utility_service_areas_spark.operators.text_index import (
        compact_bm25_index,
    )
    from utility_service_areas_spark.sources.fsutil import segments_root

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
            os.path.join(segments_root(d), s["name"], "doclens")
        )
    with pytest.raises(RuntimeError, match="compaction lost docs"):
        compact_bm25_index(spark, d)


def test_bm25_vacuum_spares_segment_with_fresh_inner_file(spark, tmp_path):
    """The vacuum age gate keys off the NEWEST file in the segment
    tree, so an in-flight write whose parent dir mtime went stale is
    spared."""
    from tests.conftest import backdate_tree
    from utility_service_areas_spark.sources.fsutil import segments_root

    d = str(tmp_path / "idx")
    build_bm25_index(
        spark.createDataFrame([(1, "alpha")], "doc_id long, text string"), d
    )
    # orphan staging dir: top-level mtime ancient, but one file inside
    # is FRESH (a parquet write still landing) -> must be spared
    inflight = os.path.join(segments_root(d), "_tmp-seg-inflight")
    os.makedirs(os.path.join(inflight, "postings"))
    backdate_tree(inflight)
    with open(os.path.join(inflight, "postings", "part-live"), "w") as f:
        f.write("x")
    os.utime(inflight, (0, 0))  # parent dir LOOKS ancient

    plan = vacuum_index(d, grace_seconds=3600, dry_run=True)
    assert "_tmp-seg-inflight" not in plan["dirs"]

    # once the whole tree is stale it goes
    backdate_tree(inflight)
    plan = vacuum_index(d, grace_seconds=3600)
    assert "_tmp-seg-inflight" in plan["dirs"]
    assert not os.path.exists(inflight)


def test_textindex_cli_lifecycle(spark, tmp_path, capsys):
    """The `textindex` CLI drives the S34 v2 lifecycle end-to-end:
    build over half the corpus -> add the other half (atomic segment)
    -> compact to one segment -> repair recount -> ranked search —
    all through main(argv), the user-facing surface."""
    from utility_service_areas_spark.__main__ import main
    from utility_service_areas_spark.operators.text_index import (
        load_bm25_index,
    )

    d = str(tmp_path / "bmidx")
    sf = SMOKE_SF
    assert main(["textindex", "build", "--sf-dir", sf, "--index-dir", d,
                 "--where", "doc_id < 250"]) == 0
    out = capsys.readouterr().out
    assert "built" in out and "1 segment(s)" in out

    assert main(["textindex", "add", "--sf-dir", sf, "--index-dir", d,
                 "--where", "doc_id >= 250"]) == 0
    out = capsys.readouterr().out
    assert "2 segment(s)" in out and "1 add batches" in out

    assert main(["textindex", "compact", "--index-dir", d]) == 0
    assert "1 segment(s)" in capsys.readouterr().out

    # retired dirs survive compaction (readers keep working) until an
    # aged vacuum; dry run reports, grace 0 sweeps
    assert main(["textindex", "vacuum", "--index-dir", d, "--dry-run",
                 "--grace-seconds", "0"]) == 0
    assert "would remove 2" in capsys.readouterr().out
    assert main(["textindex", "vacuum", "--index-dir", d,
                 "--grace-seconds", "0"]) == 0
    assert "removed 2" in capsys.readouterr().out
    assert len(os.listdir(os.path.join(d, "segments"))) == 1

    assert main(["textindex", "repair", "--index-dir", d]) == 0
    assert "recounted 1 segment(s)" in capsys.readouterr().out

    assert main(["textindex", "search", "--index-dir", d,
                 "--terms", "spark join", "--top-k", "3"]) == 0
    out = capsys.readouterr().out
    assert "q0" in out and "score_millibits" in out

    m, _p, doclens = load_bm25_index(spark, d)
    from utility_service_areas_spark.sources.tables import load_table

    assert m["n_docs"] == load_table(spark, sf, "documents").count()
    assert doclens.count() == m["n_docs"]
