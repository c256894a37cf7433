"""Persisted IVFPQ index lifecycle (operators/vector_index.py).

VERDICT r12 task #1: build once -> parquet artifacts -> search many;
incremental add against FROZEN codebooks (the FAISS add() contract);
manifest-last commit (a crashed build is never readable).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF

from utility_service_areas_spark.operators.vector_index import (
    add_to_ivfpq_index,
    build_ivfpq_index,
    load_ivfpq_index,
    search_ivfpq_index,
)
from utility_service_areas_spark.sources.fsutil import MANIFEST_NAME, vacuum_index
from utility_service_areas_spark.sources.tables import load_table


def _emb(spark):
    return load_table(spark, SMOKE_SF, "embeddings")


def test_search_from_artifacts_row_identical_to_inline(spark, tmp_path):
    """The headline pin: build -> persist -> search-from-artifacts
    returns EXACTLY the rows of the inline ann_ivfpq_residual_topk
    (#172) over the same corpus — the artifacts round-trip (parquet
    floats, JSON codebooks) loses nothing."""
    from utility_service_areas_spark.plans.ann_queries import (
        ann_ivfpq_residual_topk,
    )

    emb = _emb(spark)
    d = str(tmp_path / "idx")
    manifest = build_ivfpq_index(emb, d)
    assert manifest["n_vectors"] == emb.count()

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = sorted(
        map(
            tuple,
            search_ivfpq_index(spark, d, queries, emb).collect(),
        )
    )
    want = sorted(map(tuple, ann_ivfpq_residual_topk(spark, SMOKE_SF).collect()))
    assert got == want
    assert len(got) == 50  # 5 queries x top-10


def test_uncommitted_index_is_never_readable(spark, tmp_path):
    """Manifest-last commit: a build that crashed after writing
    parquet but before the manifest must raise, not serve a partial
    index."""
    d = str(tmp_path / "idx")
    emb = _emb(spark)
    build_ivfpq_index(emb, d)
    os.remove(os.path.join(d, MANIFEST_NAME))  # simulate pre-commit crash
    with pytest.raises(FileNotFoundError, match="never|missing"):
        load_ivfpq_index(spark, d)
    # and a format bump is loud, not silently misread
    build_ivfpq_index(emb, d)
    with open(os.path.join(d, MANIFEST_NAME)) as f:
        m = json.load(f)
    m["format_version"] = 999
    with open(os.path.join(d, MANIFEST_NAME), "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="format"):
        load_ivfpq_index(spark, d)


def test_incremental_add_encodes_against_frozen_codebooks(spark, tmp_path):
    """Re-adding vectors the index already contains must reproduce
    their build-time codes EXACTLY: add's assign+residual+encode path
    (persisted centroids, manifest codebooks, _np_assign) is the same
    arithmetic as the build's — the frozen-codebook contract. The
    build subset is ids % 2 == 0 so the codebooks are NOT trained on
    the re-added rows' complement."""
    emb = _emb(spark)
    train = emb.filter(F.col("vec_id") % 2 == 0)
    d = str(tmp_path / "idx")
    build_ivfpq_index(train, d)
    _, _, codes_before = load_ivfpq_index(spark, d)
    before = {r["neighbor_id"]: tuple(r) for r in codes_before.collect()}

    sample_ids = sorted(before)[:50]
    add_to_ivfpq_index(
        spark, d, emb.filter(F.col("vec_id").isin(sample_ids))
    )
    manifest, _, codes_after = load_ivfpq_index(spark, d)
    assert manifest["n_adds"] == 1
    assert manifest["n_vectors"] == len(before) + len(sample_ids)
    dup_rows = codes_after.filter(F.col("neighbor_id").isin(sample_ids)).collect()
    assert len(dup_rows) == 2 * len(sample_ids)
    for r in dup_rows:
        assert tuple(r) == before[r["neighbor_id"]], r["neighbor_id"]


def test_added_vectors_are_searchable(spark, tmp_path):
    """FAISS add() end-to-end: a NEW vector (id outside the corpus,
    equal to query 0's embedding) added after the build must surface
    at rank 1 for query 0 with sim == 1e6 — added codes flow through
    the same cell equi-join as built codes."""
    emb = _emb(spark)
    d = str(tmp_path / "idx")
    build_ivfpq_index(emb, d)

    q0 = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    new = spark.createDataFrame(
        [(1_000_000, [float(x) for x in q0])],
        "vec_id long, embedding array<double>",
    )
    add_to_ivfpq_index(spark, d, new)

    queries = emb.filter(F.col("vec_id") < 1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # refine corpus must include the new vector (the index stores
    # codes; refine reads the source of truth)
    corpus = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).unionByName(new)
    top = (
        search_ivfpq_index(spark, d, queries, corpus)
        .filter(F.col("rank") == 1)
        .collect()
    )
    assert len(top) == 1
    assert top[0]["neighbor_id"] == 1_000_000
    assert top[0]["sim_micros"] == 1_000_000


def test_cli_index_lifecycle(spark, tmp_path, capsys):
    """CLI artifact: build / add / search subcommands drive the
    lifecycle end to end."""
    from utility_service_areas_spark.__main__ import main

    d = str(tmp_path / "idx")
    assert (
        main(
            [
                "index",
                "build",
                "--sf-dir",
                SMOKE_SF,
                "--index-dir",
                d,
                "--where",
                "vec_id % 2 = 0",
            ]
        )
        == 0
    )
    assert os.path.exists(os.path.join(d, MANIFEST_NAME))
    assert (
        main(
            [
                "index",
                "add",
                "--sf-dir",
                SMOKE_SF,
                "--index-dir",
                d,
                "--where",
                "vec_id % 2 = 1",
            ]
        )
        == 0
    )
    with open(os.path.join(d, MANIFEST_NAME)) as f:
        m = json.load(f)
    assert m["n_adds"] == 1
    assert (
        main(["index", "search", "--sf-dir", SMOKE_SF, "--index-dir", d]) == 0
    )
    out = capsys.readouterr().out
    assert "built" in out and "added" in out and "query_id" in out


# ---------------------------------------------------------------------------
# r15: atomic-segment store (v2) + streaming maintenance (S42)
# ---------------------------------------------------------------------------


def _split_emb_files(spark, tmp_path, pred):
    """The added side of the corpus as 3 mtime-ordered parquet files."""
    import pyarrow.parquet as pq

    rest = _emb(spark).filter(pred).orderBy("vec_id")
    pdf = rest.toPandas()
    third = max(1, len(pdf) // 3)
    d = tmp_path / "emb_stream"
    d.mkdir()
    t0 = 1_700_200_000
    import pyarrow as pa

    for i in range(3):
        lo = i * third
        hi = len(pdf) if i == 2 else (i + 1) * third
        path = str(d / f"b{i}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf.iloc[lo:hi]), path)
        os.utime(path, (t0 + i, t0 + i))
    return str(d)


def test_split_adds_equal_one_batch_add(spark, tmp_path):
    """S42: train the index offline on half the corpus, add the other
    half as 3 batches keyed txn_id='stream-{i}' — the index answers
    search_ivfpq_index ROW-IDENTICALLY to the same trained index fed
    the remainder as one batch add (encode is deterministic per row
    against the frozen geometry, so the batch split cannot matter). A
    replayed batch (same txn_id) is a no-op. Added vectors are
    searchable: an added id finds itself at rank 1."""
    emb = _emb(spark)
    train = emb.filter(F.col("vec_id") % 2 == 0)
    d_stream = str(tmp_path / "idx_stream")
    d_batch = str(tmp_path / "idx_batch")
    build_ivfpq_index(train, d_stream)
    build_ivfpq_index(train, d_batch)

    files = _split_emb_files(spark, tmp_path, F.col("vec_id") % 2 == 1)
    for i in range(3):
        add_to_ivfpq_index(
            spark,
            d_stream,
            spark.read.parquet(os.path.join(files, f"b{i}.parquet")),
            txn_id=f"stream-{i}",
        )

    add_to_ivfpq_index(
        spark, d_batch, emb.filter(F.col("vec_id") % 2 == 1)
    )
    m_stream = load_ivfpq_index(spark, d_stream)[0]
    m_batch = load_ivfpq_index(spark, d_batch)[0]
    assert m_stream["n_vectors"] == m_batch["n_vectors"] == emb.count()
    assert [f"stream-{i}" in m_stream["txn_ids"] for i in range(3)] == [True] * 3

    queries = emb.filter(F.col("vec_id").isin(1, 3, 7, 10)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = sorted(
        map(tuple, search_ivfpq_index(spark, d_stream, queries, emb).collect())
    )
    want = sorted(
        map(tuple, search_ivfpq_index(spark, d_batch, queries, emb).collect())
    )
    assert got == want and len(got) == 40

    # planted-new-vector searchable: an added (odd) id's vector, asked
    # under an id no corpus row has (search excludes a query's own
    # id), finds that id at rank 1
    self_q = emb.filter(F.col("vec_id") == 1).select(
        F.lit(-1).cast("long").alias("query_id"), F.col("embedding").alias("qvec")
    )
    top = search_ivfpq_index(spark, d_stream, self_q, emb, top_k=1).collect()
    assert len(top) == 1 and top[0]["neighbor_id"] == 1

    # replayed batch: txn already recorded -> manifest unchanged
    replay = add_to_ivfpq_index(
        spark,
        d_stream,
        spark.read.parquet(os.path.join(files, "b0.parquet")),
        txn_id="stream-0",
    )
    assert replay["n_vectors"] == m_stream["n_vectors"]
    assert replay["n_adds"] == m_stream["n_adds"]


def test_vector_torn_add_invisible_and_retry_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Crash an add AFTER its segment renamed but BEFORE the manifest
    commit (the widest torn window): the segment is on disk but
    invisible to load/search, and the RETRY with the same txn_id
    lands the batch exactly once — counts equal the clean path, no
    duplicate neighbor_id rows."""
    from utility_service_areas_spark.sources import fsutil

    emb = _emb(spark)
    train = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    d = str(tmp_path / "idx")
    build_ivfpq_index(train, d)
    queries = emb.filter(F.col("vec_id").isin(2, 4)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    before = sorted(
        map(tuple, search_ivfpq_index(spark, d, queries, train).collect())
    )

    real_commit = fsutil.commit_manifest

    def crash(index_dir, manifest):
        raise RuntimeError("simulated crash before manifest commit")

    monkeypatch.setattr(fsutil, "commit_manifest", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        add_to_ivfpq_index(spark, d, rest, txn_id="stream-0")
    monkeypatch.setattr(fsutil, "commit_manifest", real_commit)

    seg_dirs = os.listdir(os.path.join(d, "segments"))
    m, _c, codes = load_ivfpq_index(spark, d)
    assert len(seg_dirs) == 2 and len(m["segments"]) == 1
    assert m["n_vectors"] == train.count() == codes.count()
    assert "stream-0" not in m["txn_ids"]
    assert (
        sorted(map(tuple, search_ivfpq_index(spark, d, queries, train).collect()))
        == before
    )

    manifest = add_to_ivfpq_index(spark, d, rest, txn_id="stream-0")
    assert manifest["n_vectors"] == emb.count()
    _m, _c, codes = load_ivfpq_index(spark, d)
    assert codes.groupBy("neighbor_id").count().filter("count > 1").count() == 0


# ---------------------------------------------------------------------------
# r16: manifest generation claim (ADVICE r15) — concurrent writers
# ---------------------------------------------------------------------------


def test_concurrent_adds_both_commit_no_lost_segment(spark, tmp_path, monkeypatch):
    """Two adds racing on the manifest both land: the loser's claim
    fails (O_EXCL generation marker), it re-reads the winner's
    manifest and re-applies its delta — no last-replace-wins segment
    drop (the ADVICE r15 lost-update)."""
    from utility_service_areas_spark.sources import fsutil

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 40)
    add_a = emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 50))
    add_b = emb.filter(F.col("vec_id") >= 50)
    d = str(tmp_path / "idx")
    build_ivfpq_index(base, d)
    n_total = emb.count()

    real_commit = fsutil.commit_manifest
    state = {"raced": False}

    def racing_commit(index_dir, manifest):
        if not state["raced"]:
            state["raced"] = True
            monkeypatch.setattr(fsutil, "commit_manifest", real_commit)
            # B commits fully between A's manifest read and A's claim
            add_to_ivfpq_index(
                spark, d, add_b, id_col="vec_id", vec_col="embedding"
            )
        return real_commit(index_dir, manifest)

    monkeypatch.setattr(fsutil, "commit_manifest", racing_commit)
    manifest = add_to_ivfpq_index(
        spark, d, add_a, id_col="vec_id", vec_col="embedding"
    )
    assert manifest["n_vectors"] == n_total  # nothing lost
    assert len(manifest["segments"]) == 3  # base + B + A all listed
    assert manifest["n_adds"] == 2
    # and every streamed-in vector is searchable
    _m, _c, codes = load_ivfpq_index(spark, d)
    assert codes.count() == n_total


def test_stale_generation_marker_is_stolen(spark, tmp_path):
    """A crashed claimer's marker older than the steal window must not
    wedge the index: the next writer removes it and commits."""
    emb = _emb(spark)
    d = str(tmp_path / "idx")
    manifest = build_ivfpq_index(emb.filter(F.col("vec_id") < 40), d)
    gen = manifest["generation"]
    marker = os.path.join(d, f"_gen-{gen + 1:09d}")
    open(marker, "w").close()
    os.utime(marker, (0, 0))  # ancient: a crashed writer's leftover
    out = add_to_ivfpq_index(
        spark, d, emb.filter(F.col("vec_id") >= 40),
        id_col="vec_id", vec_col="embedding",
    )
    assert out["generation"] == gen + 1
    assert out["n_vectors"] == emb.count()


def test_bm25_compaction_touches_retired_segments(spark, tmp_path):
    """Same retirement-stamp contract on the BM25 store."""
    import time as _time

    from tests.conftest import backdate_tree
    from utility_service_areas_spark.operators.text_index import (
        add_to_bm25_index,
        build_bm25_index,
        compact_bm25_index,
    )
    from utility_service_areas_spark.sources.tables import load_table

    docs = load_table(spark, SMOKE_SF, "documents")
    d = str(tmp_path / "bm25")
    build_bm25_index(docs.filter(F.col("doc_id") < 100), d)
    add_to_bm25_index(spark, d, docs.filter(F.col("doc_id") >= 400))
    with open(os.path.join(d, "_MANIFEST.json")) as f:
        retired = [s["name"] for s in json.load(f)["segments"]]
    segroot = os.path.join(d, "segments")
    for name in retired:
        backdate_tree(os.path.join(segroot, name))
    t0 = _time.time()
    compact_bm25_index(spark, d)
    for name in retired:
        assert os.path.getmtime(os.path.join(segroot, name)) >= t0 - 5
    assert vacuum_index(d, grace_seconds=3600, dry_run=True)["dirs"] == []
