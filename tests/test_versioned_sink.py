"""Versioned table sink S33 (sources/versioned.py): snapshot commit,
time travel, crash safety, diff across versions, commit-race claim.
"""

from __future__ import annotations

import json
import os

import pytest

from utility_service_areas_spark.plans.registry import physical_plan
from utility_service_areas_spark.sources.versioned import (
    diff_versions,
    list_versions,
    read_version,
    write_version,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _files_scanned_for_range(zones: list[dict], lo, hi) -> tuple[int, int]:
    """(files scanned, rows scanned) for a BETWEEN predicate under
    zone-map pruning, from a zone_map_audit listing: a file is skipped
    iff its zone provably excludes the range (NULL-zoned files are
    always scanned)."""
    files = rows = 0
    for z in zones:
        if z["min"] is not None and (z["max"] < lo or z["min"] > hi):
            continue
        files += 1
        rows += z["rows"]
    return files, rows


def test_round_trip_append_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v0 = write_version(_df(spark, [(1, "a"), (2, "b")]), t)
    v1 = write_version(_df(spark, [(3, "c")]), t, mode="append")
    assert (v0, v1) == (0, 1)
    assert list_versions(t) == [0, 1]

    # latest = union; v0 unchanged (time travel)
    latest = {(r.k, r.v) for r in read_version(spark, t).collect()}
    assert latest == {(1, "a"), (2, "b"), (3, "c")}
    old = {(r.k, r.v) for r in read_version(spark, t, 0).collect()}
    assert old == {(1, "a"), (2, "b")}

    # overwrite starts a new lineage; every prior version stays readable
    v2 = write_version(_df(spark, [(9, "z")]), t, mode="overwrite")
    assert v2 == 2
    assert {(r.k, r.v) for r in read_version(spark, t).collect()} == {(9, "z")}
    assert {
        (r.k, r.v) for r in read_version(spark, t, 1).collect()
    } == {(1, "a"), (2, "b"), (3, "c")}


def test_crash_mid_commit_is_invisible(spark, tmp_path):
    """Orphan data dirs + torn temp manifests (a writer that died
    before the atomic claim) must never surface to readers."""
    t = str(tmp_path / "tbl")
    write_version(_df(spark, [(1, "a")]), t)

    # simulate a crashed commit: data written, temp manifest written,
    # claim never happened
    orphan = os.path.join(t, "data", "commit-deadbeef")
    _df(spark, [(666, "ghost")]).write.parquet(orphan)
    with open(os.path.join(t, "_tmp-v1-deadbeef.json"), "w") as f:
        json.dump({"version": 1, "data_dirs": ["data/commit-deadbeef"]}, f)

    assert list_versions(t) == [0]
    rows = {(r.k, r.v) for r in read_version(spark, t).collect()}
    assert rows == {(1, "a")}
    # and the next commit is unaffected, claiming v1 normally
    v1 = write_version(_df(spark, [(2, "b")]), t, mode="append")
    assert v1 == 1
    assert {(r.k, r.v) for r in read_version(spark, t).collect()} == {
        (1, "a"),
        (2, "b"),
    }


def test_version_claim_is_first_writer_wins(spark, tmp_path):
    """The os.link claim is exclusive: a manifest name that already
    exists makes the writer RETRY at the next number — two commits
    can never share a version, and the loser's manifest includes the
    winner's rows (recomputed against the winner)."""
    t = str(tmp_path / "tbl")
    write_version(_df(spark, [(1, "a")]), t)
    # occupy v1 by hand (the "concurrent winner")
    man0 = json.load(open(os.path.join(t, "_v0.json")))
    with open(os.path.join(t, "_v1.json"), "w") as f:
        json.dump({**man0, "version": 1}, f)
    v = write_version(_df(spark, [(2, "b")]), t, mode="append")
    assert v == 2
    man2 = json.load(open(os.path.join(t, "_v2.json")))
    assert len(man2["data_dirs"]) == 2  # winner's lineage + this commit
    # no stranded temp manifests from the lost race
    assert not [n for n in os.listdir(t) if n.startswith("_tmp-")]


def test_append_schema_drift_is_loud(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_version(_df(spark, [(1, "a")]), t)
    bad = spark.createDataFrame([(1, 2.0)], "k long, v double")
    with pytest.raises(ValueError, match="schema mismatch"):
        write_version(bad, t, mode="append")
    wider = spark.createDataFrame([(1, "b", 3)], "k long, v string, extra long")
    with pytest.raises(ValueError, match="schema mismatch"):
        write_version(wider, t, mode="append")
    assert list_versions(t) == [0]  # nothing committed
    # overwrite may change schema; old version keeps the old one
    write_version(bad, t, mode="overwrite")
    assert read_version(spark, t).schema["v"].dataType.simpleString() == "double"
    assert (
        read_version(spark, t, 0).schema["v"].dataType.simpleString()
        == "string"
    )


def test_diff_across_versions(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_version(_df(spark, [(1, "a"), (2, "b")]), t)
    write_version(_df(spark, [(3, "c")]), t, mode="append")
    write_version(_df(spark, [(2, "b"), (4, "d")]), t, mode="overwrite")

    d01 = diff_versions(spark, t, 0, 1)
    assert d01 == {"added": 1, "removed": 0, "n_rows_old": 2, "n_rows_new": 3}
    d12 = diff_versions(spark, t, 1, 2)
    assert d12["added"] == 1 and d12["removed"] == 2  # kept (2,b); +(4,d)
    assert d12["n_rows_new"] == 2


# ---------------------------------------------------------------------------
# r13: MERGE with bucket-level copy-on-write + VACUUM (S35)
# ---------------------------------------------------------------------------

from utility_service_areas_spark.sources.versioned import (  # noqa: E402
    merge_version,
    restore_version,
    vacuum,
    write_version_bucketed,
)


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _ch(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, op string")


def _manifest(t, n):
    with open(os.path.join(t, f"_v{n}.json")) as f:
        return json.load(f)


def test_merge_cow_reuses_untouched_buckets_by_reference(spark, tmp_path):
    """The headline S35 pin: after a merge touching a few keys, (a)
    the merged read equals the relational reference, (b) every bucket
    WITHOUT a changed key keeps its exact data-dir paths from the
    base manifest (no rewrite), (c) touched buckets got new dirs,
    (d) the base version still time-travels to the original rows."""
    base_rows = [(k, f"v{k}") for k in range(64)]
    t = str(tmp_path / "tbl")
    v0 = write_version_bucketed(_kv(spark, base_rows), t, ["k"], n_buckets=8)
    assert v0 == 0
    m0 = _manifest(t, 0)
    assert set(m0["buckets"]) == {str(b) for b in range(8)}

    changes = [(3, "UPDATED", "U"), (7, None, "D"), (999, "NEW", "U")]
    v1 = merge_version(spark, t, _ch(spark, changes))
    assert v1 == 1

    got = {(r.k, r.v) for r in read_version(spark, t, 1).collect()}
    want = {(k, f"v{k}") for k in range(64) if k not in (3, 7)}
    want |= {(3, "UPDATED"), (999, "NEW")}
    assert got == want

    m1 = _manifest(t, 1)
    from pyspark.sql import functions as F

    touched = {
        str(r[0])
        for r in _ch(spark, changes)
        .select(F.pmod(F.xxhash64("k"), F.lit(8)).cast("int"))
        .collect()
    }
    for b in m0["buckets"]:
        if b in touched:
            assert m1["buckets"][b] != m0["buckets"][b], b
        else:
            assert m1["buckets"][b] == m0["buckets"][b], b  # BY REFERENCE

    base = {(r.k, r.v) for r in read_version(spark, t, 0).collect()}
    assert base == set(base_rows)
    assert m1["n_rows"] == len(want)


def test_merge_requires_bucketed_table(spark, tmp_path):
    t = str(tmp_path / "plain")
    write_version(_kv(spark, [(1, "a")]), t)
    with pytest.raises(ValueError, match="write_version_bucketed"):
        merge_version(spark, t, _ch(spark, [(1, "b", "U")]))
    assert list_versions(t) == [0]


def test_merge_claim_conflict_aborts_not_lost_update(spark, tmp_path, monkeypatch):
    """Optimistic concurrency: if another writer claims the next
    version between the merge's base read and its commit, the merge
    ABORTS loudly (retrying against the stale base would silently
    drop the other writer's rows) and leaves no manifest behind."""
    import utility_service_areas_spark.sources.versioned as vmod

    t = str(tmp_path / "tbl")
    write_version_bucketed(_kv(spark, [(1, "a"), (2, "b")]), t, ["k"], 4)

    real_link = os.link

    def racing_link(src, dst, *a, **kw):
        raise FileExistsError(dst)

    monkeypatch.setattr(vmod.os, "link", racing_link)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        merge_version(spark, t, _ch(spark, [(1, "x", "U")]))
    monkeypatch.setattr(vmod.os, "link", real_link)
    assert list_versions(t) == [0]  # no torn/partial version
    # and the table still merges cleanly afterwards
    v1 = merge_version(spark, t, _ch(spark, [(1, "x", "U")]))
    got = {(r.k, r.v) for r in read_version(spark, t, v1).collect()}
    assert got == {(1, "x"), (2, "b")}


def test_vacuum_expires_history_keeps_retained_exact(spark, tmp_path):
    """Vacuum: retained versions read EXACTLY as before; expired
    manifests are gone; data dirs referenced only by expired versions
    are deleted; dirs shared with retained versions survive; orphans
    from crashed commits are swept; a second vacuum is a no-op."""
    t = str(tmp_path / "tbl")
    write_version_bucketed(_kv(spark, [(k, "base") for k in range(32)]), t, ["k"], 4)
    merge_version(spark, t, _ch(spark, [(1, "m1", "U")]))
    merge_version(spark, t, _ch(spark, [(2, "m2", "U")]))
    before = {(r.k, r.v) for r in read_version(spark, t, 2).collect()}
    v1_rows = {(r.k, r.v) for r in read_version(spark, t, 1).collect()}

    # plant a STALE orphan (crashed commit: data written, no manifest;
    # backdated past the grace window — a FRESH unreferenced dir is an
    # in-flight commit and must be spared, r14 review #3)
    orphan = os.path.join(t, "data", "commit-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "w") as f:
        f.write("x")
    from tests.conftest import backdate_tree

    backdate_tree(orphan)

    stats = vacuum(t, keep_last=2)
    assert stats["versions_retained"] == 2
    assert list_versions(t) == [1, 2]
    assert not os.path.exists(orphan)
    assert {(r.k, r.v) for r in read_version(spark, t, 2).collect()} == before
    assert {(r.k, r.v) for r in read_version(spark, t, 1).collect()} == v1_rows
    with pytest.raises(FileNotFoundError):
        read_version(spark, t, 0)

    again = vacuum(t, keep_last=2)
    assert again["manifests_removed"] == 0 and again["dirs_removed"] == 0


def test_vacuum_crash_midway_leaves_only_invisible_dirs(spark, tmp_path):
    """Deletion order contract: manifests go first, so a vacuum that
    crashes after the manifest pass leaves only UNREFERENCED data
    dirs — every still-listed version reads fine, and the next
    vacuum sweeps the leftovers."""
    t = str(tmp_path / "tbl")
    write_version_bucketed(_kv(spark, [(k, "a") for k in range(8)]), t, ["k"], 2)
    merge_version(spark, t, _ch(spark, [(1, "b", "U")]))
    # simulate the crash: delete expired manifests but no dirs. The
    # leftover dirs are now referenced by NO manifest, i.e. orphans —
    # the next vacuum reclaims them once they age out of the grace
    # window (grace 0 here: the crash is long past by assumption)
    os.unlink(os.path.join(t, "_v0.json"))
    latest = {(r.k, r.v) for r in read_version(spark, t).collect()}
    assert latest  # still readable
    stats = vacuum(t, keep_last=1, tmp_grace_seconds=0)
    assert stats["dirs_removed"] >= 1  # the now-orphaned v0-only dirs
    assert {(r.k, r.v) for r in read_version(spark, t).collect()} == latest


# ---------------------------------------------------------------------------
# r13: versioned-table Python DataSource reader (S37)
# ---------------------------------------------------------------------------


@pytest.mark.usefixtures("versioned_table")
def test_datasource_reads_latest_and_time_travels(spark, tmp_path):
    """`spark.read.format('versioned_table')` equals read_version for
    both the latest snapshot and an explicit .option('version', n) —
    including across a merge (COW buckets) and an overwrite that
    CHANGES SCHEMA (per-version schema resolution)."""
    t = str(tmp_path / "tbl")
    v0 = write_version_bucketed(
        _kv(spark, [(k, f"v{k}") for k in range(16)]), t, ["k"], 4
    )
    v1 = merge_version(spark, t, _ch(spark, [(3, "M", "U"), (5, None, "D")]))

    latest = {
        (r.k, r.v)
        for r in spark.read.format("versioned_table").load(t).collect()
    }
    want1 = {(r.k, r.v) for r in read_version(spark, t, v1).collect()}
    assert latest == want1

    old = {
        (r.k, r.v)
        for r in spark.read.format("versioned_table")
        .option("version", v0)
        .load(t)
        .collect()
    }
    want0 = {(r.k, r.v) for r in read_version(spark, t, v0).collect()}
    assert old == want0 and old != latest

    # overwrite with a DIFFERENT schema; both lineages stay readable
    spark_df = spark.createDataFrame([(1.5, "x")], "score double, tag string")
    v2 = write_version(spark_df, t, mode="overwrite")
    new = spark.read.format("versioned_table").load(t)
    assert {f.name for f in new.schema.fields} == {"score", "tag"}
    assert new.count() == 1
    again = (
        spark.read.format("versioned_table").option("version", v1).load(t)
    )
    assert {(r.k, r.v) for r in again.collect()} == want1


@pytest.mark.usefixtures("versioned_table")
def test_datasource_partitions_are_per_file_and_crash_invisible(spark, tmp_path):
    """One InputPartition per parquet part file (data-parallel), and a
    crashed commit's orphan parquet is invisible to the source."""
    import os as _os

    t = str(tmp_path / "tbl")
    write_version_bucketed(_kv(spark, [(k, "a") for k in range(32)]), t, ["k"], 4)
    df = spark.read.format("versioned_table").load(t)
    assert df.rdd.getNumPartitions() >= 4  # at least one per bucket

    # orphan: parquet written, never committed
    orphan_dir = _os.path.join(t, "data", "commit-orphan")
    _kv(spark, [(999, "ORPHAN")]).write.parquet(orphan_dir)
    got = {
        (r.k, r.v)
        for r in spark.read.format("versioned_table").load(t).collect()
    }
    assert (999, "ORPHAN") not in got and len(got) == 32


@pytest.mark.usefixtures("versioned_table")
def test_datasource_missing_table_raises(spark, tmp_path):
    with pytest.raises(Exception, match="no committed versions"):
        spark.read.format("versioned_table").load(str(tmp_path / "nope")).count()


def test_table_cli_lifecycle(spark, tmp_path, capsys):
    """The `table` CLI drives the whole lifecycle: bucketed write ->
    COW merge of a changeset parquet -> time-travel read -> diff ->
    vacuum — all through main(argv), the user-facing surface."""
    from utility_service_areas_spark.__main__ import main

    src = str(tmp_path / "src.parquet")
    _kv(spark, [(k, f"v{k}") for k in range(12)]).write.parquet(src)
    ch = str(tmp_path / "ch.parquet")
    _ch(spark, [(1, "M", "U"), (2, None, "D")]).write.parquet(ch)
    t = str(tmp_path / "tbl")

    assert main(["table", "write", "--table-dir", t, "--source", src,
                 "--bucket-by", "k", "--n-buckets", "4"]) == 0
    assert main(["table", "merge", "--table-dir", t, "--source", ch]) == 0
    assert main(["table", "versions", "--table-dir", t]) == 0
    out = capsys.readouterr().out
    assert "committed v0" in out and "merged -> v1" in out
    assert "v0: mode=overwrite rows=12" in out
    assert "v1: mode=merge rows=11" in out

    assert main(["table", "read", "--table-dir", t, "--version", "0"]) == 0
    assert "12 rows" in capsys.readouterr().out
    assert main(["table", "diff", "--table-dir", t,
                 "--v-old", "0", "--v-new", "1"]) == 0
    assert "-2" in capsys.readouterr().out  # old rows for k=1 (replaced) + k=2 (deleted)

    assert main(["table", "vacuum", "--table-dir", t, "--keep-last", "1"]) == 0
    assert "1 versions retained" in capsys.readouterr().out
    assert list_versions(t) == [1]
    got = {(r.k, r.v) for r in read_version(spark, t, 1).collect()}
    assert got == {(k, f"v{k}") for k in range(12) if k not in (1, 2)} | {(1, "M")}


# ---------------------------------------------------------------------------
# r15: OPTIMIZE (Z-ORDER clustered rewrite — VERDICT r14 task #5)
# ---------------------------------------------------------------------------


def test_optimize_zorder_row_identical_and_prunes(spark, tmp_path):
    """optimize_version rewrites the latest snapshot Morton-ordered:
    (a) the row MULTISET is byte-identical (#161 diff == 0/0), (b)
    the base version still time-travels, (c) the zone-map audit shows
    STRICTLY fewer files scanned for a range predicate on each
    z-order key — the measurable point of clustering."""
    from utility_service_areas_spark.sources.versioned import (
        diff_versions,
        optimize_version,
        zone_map_audit,
    )

    # a deliberately scattered layout: interleave two keys so neither
    # is correlated with insertion order, 8 files of hash-ordered rows
    rows = [(i, (i * 7919) % 1000, (i * 104729) % 1000) for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, a long, b long").repartition(8)
    t = str(tmp_path / "tbl")
    base_v = write_version(df, t)

    zones_a = zone_map_audit(spark, t, base_v, "a")
    files_before, rows_before = _files_scanned_for_range(zones_a, 100, 150)
    assert files_before == 8  # scattered: every file overlaps

    v = optimize_version(spark, t, ["a", "b"], n_files=8)
    assert v == base_v + 1
    man = _manifest(t, v)
    assert man["optimized_from"] == base_v
    assert man["zorder_by"] == ["a", "b"]

    d = diff_versions(spark, t, base_v, v)
    assert d["added"] == 0 and d["removed"] == 0  # byte-identical multiset
    assert d["n_rows_old"] == d["n_rows_new"] == 4000
    assert read_version(spark, t, base_v).count() == 4000  # time travel

    for key in ("a", "b"):
        zones = zone_map_audit(spark, t, v, key)
        f_after, r_after = _files_scanned_for_range(zones, 100, 150)
        f_before, r_before = _files_scanned_for_range(
            zone_map_audit(spark, t, base_v, key), 100, 150
        )
        assert f_after < f_before, key  # the clustering win, measured
        assert r_after < r_before, key


def test_optimize_refuses_bucketed_and_missing_columns(spark, tmp_path):
    from utility_service_areas_spark.sources.versioned import optimize_version

    t = str(tmp_path / "btbl")
    write_version_bucketed(_kv(spark, [(1, "a")]), t, ["k"], 4)
    with pytest.raises(ValueError, match="bucket"):
        optimize_version(spark, t, ["k"])
    t2 = str(tmp_path / "ptbl")
    write_version(_kv(spark, [(1, "a")]), t2)
    with pytest.raises(ValueError, match="not in table schema"):
        optimize_version(spark, t2, ["nope"])


def test_cli_table_optimize(spark, tmp_path, capsys):
    from utility_service_areas_spark.__main__ import main
    from utility_service_areas_spark.sources.versioned import (
        diff_versions,
        list_versions,
    )

    src = str(tmp_path / "src")
    rows = [(i, (i * 7919) % 500) for i in range(2000)]
    spark.createDataFrame(rows, "id long, a long").repartition(4).write.parquet(src)
    t = str(tmp_path / "tbl")
    assert main(["table", "write", "--table-dir", t, "--source", src]) == 0
    assert (
        main(
            [
                "table",
                "optimize",
                "--table-dir",
                t,
                "--zorder-by",
                "a",
                "--n-files",
                "4",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "optimized -> v1" in out
    assert list_versions(t) == [0, 1]
    d = diff_versions(spark, t, 0, 1)
    assert d["added"] == 0 and d["removed"] == 0


# ---------------------------------------------------------------------------
# r16: read-time zone-map data skipping via pushFilters (VERDICT r15 #2)
# ---------------------------------------------------------------------------


@pytest.mark.usefixtures("versioned_table")
def test_datasource_pushdown_prunes_planned_partitions(spark, tmp_path):
    """On a Z-ORDERed table, a range predicate plans exactly the
    partition count _files_scanned_for_range predicts (a), results are
    row-identical with pruning active (b), and the plan keeps the
    Filter applied above the scan (c) — pruning is partial, so every
    pushed filter is also returned for Spark to re-apply."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from utility_service_areas_spark.sources.pyds import VersionedTableReader
    from utility_service_areas_spark.sources.versioned import (
        optimize_version,
        zone_map_audit,
    )

    rows = [(i, (i * 7919) % 1000) for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, a long").repartition(8)
    t = str(tmp_path / "tbl")
    write_version(df, t)
    v = optimize_version(spark, t, ["a"], n_files=8)

    zones = zone_map_audit(spark, t, v, "a")
    want_files, _ = _files_scanned_for_range(zones, 100, 150)
    assert 0 < want_files < 8  # the clustered layout actually prunes

    # (a) partitions planned == the zone-map audit's prediction
    schema = spark.read.format("versioned_table").load(t).schema
    reader = VersionedTableReader({"path": t}, schema)
    flt = [GreaterThanOrEqual(("a",), 100), LessThanOrEqual(("a",), 150)]
    remaining = list(reader.pushFilters(flt))
    assert remaining == flt  # ALL filters go back upstairs
    assert len(reader.partitions()) == want_files

    # (b) + (c) end-to-end through Spark's planner
    pushed = (
        spark.read.format("versioned_table")
        .load(t)
        .filter("a BETWEEN 100 AND 150")
    )
    plan = physical_plan(pushed)
    assert "Filter" in plan  # re-applied above the scan
    got = sorted((r.id, r.a) for r in pushed.collect())
    want = sorted((i, a) for i, a in rows if 100 <= a <= 150)
    assert got == want
    assert pushed.rdd.getNumPartitions() == want_files


@pytest.mark.usefixtures("versioned_table")
def test_datasource_pushdown_equality_and_in_and_unsupported(spark, tmp_path):
    """EqualTo/In prune; IsNull and non-top-level shapes are returned
    un-pruned (still handled by Spark); a predicate excluding every
    zone plans ZERO partitions and still answers correctly."""
    from pyspark.sql.datasource import EqualTo, In, IsNull

    from utility_service_areas_spark.sources.pyds import VersionedTableReader

    t = str(tmp_path / "tbl")
    # 4 files with disjoint k ranges: 0-9, 10-19, 20-29, 30-39
    df = spark.createDataFrame(
        [(k, f"v{k}") for k in range(40)], "k long, v string"
    ).repartitionByRange(4, "k")
    write_version(df, t)
    schema = spark.read.format("versioned_table").load(t).schema

    r1 = VersionedTableReader({"path": t}, schema)
    assert list(r1.pushFilters([EqualTo(("k",), 25)])) == [EqualTo(("k",), 25)]
    assert len(r1.partitions()) == 1

    r2 = VersionedTableReader({"path": t}, schema)
    r2_flt = [In(("k",), (5, 35))]
    list(r2.pushFilters(r2_flt))
    assert len(r2.partitions()) == 2

    r3 = VersionedTableReader({"path": t}, schema)
    kept = list(r3.pushFilters([IsNull(("v",))]))
    assert kept == [IsNull(("v",))] and r3._pushed == []
    assert len(r3.partitions()) == 4  # no pruning on unsupported shapes

    # zone-excluded everywhere -> zero partitions, empty-but-correct
    out = (
        spark.read.format("versioned_table").load(t).filter("k = 999").collect()
    )
    assert out == []
    got = {
        (r.k, r.v)
        for r in spark.read.format("versioned_table")
        .load(t)
        .filter("k = 25")
        .collect()
    }
    assert got == {(25, "v25")}


def test_row_group_pruning_and_zone_allows_conservatism(tmp_path):
    """_prunable_row_groups selects only the row groups whose stats
    admit the conjunction (None == all survive); _zone_allows answers
    True on absent stats or incomparable literals."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.datasource import EqualTo, GreaterThan, In, LessThan

    from utility_service_areas_spark.sources.pyds import (
        _prunable_row_groups,
        _zone_allows,
    )

    path = str(tmp_path / "f.parquet")
    # 4 row groups of 100 rows each: k in [0,99], [100,199], ...
    tbl = pa.table({"k": list(range(400)), "s": [f"x{i:04d}" for i in range(400)]})
    pq.write_table(tbl, path, row_group_size=100)
    pf = pq.ParquetFile(path)
    assert pf.num_row_groups == 4

    assert _prunable_row_groups(pf, [EqualTo(("k",), 150)]) == [1]
    assert _prunable_row_groups(pf, [GreaterThan(("k",), 299)]) == [3]
    assert _prunable_row_groups(
        pf, [GreaterThan(("k",), 99), LessThan(("k",), 201)]
    ) == [1, 2]
    assert _prunable_row_groups(pf, [In(("k",), (50, 350))]) == [0, 3]
    assert _prunable_row_groups(pf, [GreaterThan(("k",), -1)]) is None  # all
    assert _prunable_row_groups(pf, [EqualTo(("k",), 9999)]) == []  # none
    # string zones prune too
    assert _prunable_row_groups(pf, [EqualTo(("s",), "x0150")]) == [1]

    assert _zone_allows(None, None, EqualTo(("k",), 1))  # absent stats
    assert _zone_allows(0, 10, EqualTo(("k",), "woops"))  # incomparable
    assert _zone_allows(0, 10, In(("k",), (None, 5)))  # NULL literal
    assert not _zone_allows(0, 10, EqualTo(("k",), 11))


# ---------------------------------------------------------------------------
# r16: MERGE claim-conflict auto-rebase on disjoint buckets (VERDICT r15 #4)
# ---------------------------------------------------------------------------


def _bucket_of_key(spark, k: int, n: int = 8) -> int:
    from pyspark.sql import functions as F

    return (
        spark.createDataFrame([(k,)], "k long")
        .select(F.pmod(F.xxhash64("k"), F.lit(n)).cast("int"))
        .collect()[0][0]
    )


def _race_merges(spark, tmp_path, monkeypatch, k_a: int, k_b: int):
    """Run merge A (key k_a) and interleave merge B (key k_b) so B
    wins the first claim A attempts — a REAL race: B's version is
    fully committed through the normal path before A's claim fails."""
    import utility_service_areas_spark.sources.versioned as vmod

    t = str(tmp_path / "tbl")
    write_version_bucketed(
        _kv(spark, [(k, f"v{k}") for k in range(64)]), t, ["k"], 8
    )
    real_link = os.link
    state = {"raced": False}

    def racing_link(src, dst, *a, **kw):
        if not state["raced"] and dst.endswith("_v1.json"):
            state["raced"] = True
            monkeypatch.setattr(vmod.os, "link", real_link)
            merge_version(spark, t, _ch(spark, [(k_b, "FROM_B", "U")]))
        return real_link(src, dst, *a, **kw)

    monkeypatch.setattr(vmod.os, "link", racing_link)
    try:
        return t, merge_version(spark, t, _ch(spark, [(k_a, "FROM_A", "U")]))
    finally:
        monkeypatch.setattr(vmod.os, "link", real_link)


def test_merge_rebase_disjoint_buckets_both_commit(spark, tmp_path, monkeypatch):
    """Two concurrent merges on keys hashing to DIFFERENT buckets BOTH
    commit: the loser rebases its bucket overlay onto the winner, and
    the final snapshot carries the union of effects (no lost update)."""
    k_a = 1
    b_a = _bucket_of_key(spark, k_a)
    k_b = next(k for k in range(2, 64) if _bucket_of_key(spark, k) != b_a)

    t, v = _race_merges(spark, tmp_path, monkeypatch, k_a, k_b)
    assert v == 2  # B took v1; A rebased onto it and committed v2
    man = _manifest(t, 2)
    assert man["merge_base"] == 1 and man["rebased_from"] == 0

    got = {(r.k, r.v) for r in read_version(spark, t, v).collect()}
    want = {(k, f"v{k}") for k in range(64) if k not in (k_a, k_b)}
    want |= {(k_a, "FROM_A"), (k_b, "FROM_B")}
    assert got == want
    assert man["n_rows"] == 64


def test_merge_rebase_overlapping_buckets_still_aborts(spark, tmp_path, monkeypatch):
    """Two concurrent merges whose keys hash to the SAME bucket: the
    loser aborts loudly (rebasing would overlay a bucket rewrite that
    never saw the winner's rows), and the winner's update survives."""
    k_a = 1
    b_a = _bucket_of_key(spark, k_a)
    k_b = next(
        k for k in range(2, 64) if k != k_a and _bucket_of_key(spark, k) == b_a
    )

    with pytest.raises(RuntimeError, match="overlapping buckets"):
        _race_merges(spark, tmp_path, monkeypatch, k_a, k_b)
    t = str(tmp_path / "tbl")
    assert list_versions(t) == [0, 1]  # only B's commit exists
    got = {(r.k, r.v) for r in read_version(spark, t, 1).collect()}
    assert (k_b, "FROM_B") in got and (k_a, f"v{k_a}") in got


def test_write_version_expect_rows_raises_before_commit(spark, tmp_path):
    """ADVICE r15: a row-count verification failure must leave the
    staged data an INVISIBLE orphan — no new version is ever the
    readable latest with a suspect row count."""
    t = str(tmp_path / "tbl")
    write_version(_kv(spark, [(1, "a"), (2, "b")]), t)
    with pytest.raises(RuntimeError, match="nothing was committed"):
        write_version(
            _kv(spark, [(3, "c")]), t, mode="overwrite", expect_rows=2
        )
    assert list_versions(t) == [0]  # the suspect rewrite never published
    got = {(r.k, r.v) for r in read_version(spark, t).collect()}
    assert got == {(1, "a"), (2, "b")}
    # and the happy path still verifies-and-commits
    v = write_version(
        _kv(spark, [(9, "z"), (8, "y")]), t, mode="overwrite", expect_rows=2
    )
    assert v == 1


def test_optimize_hilbert_row_identical_and_prunes(spark, tmp_path):
    """curve='hilbert' (the r16 default) commits a row-identical
    multiset (#161 diff 0/0), records the curve in the manifest, and
    prunes the two-key range battery at least as well as the scattered
    base on BOTH keys; an unknown curve is refused."""
    from utility_service_areas_spark.sources.versioned import (
        diff_versions,
        optimize_version,
        zone_map_audit,
    )

    rows = [(i, (i * 7919) % 1000, (i * 104729) % 1000) for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, a long, b long").repartition(8)
    t = str(tmp_path / "tbl")
    base_v = write_version(df, t)

    v = optimize_version(spark, t, ["a", "b"], n_files=8)  # default curve
    assert _manifest(t, v)["zorder_curve"] == "hilbert"
    d = diff_versions(spark, t, base_v, v)
    assert d["added"] == 0 and d["removed"] == 0
    for key in ("a", "b"):
        f_after, r_after = _files_scanned_for_range(
            zone_map_audit(spark, t, v, key), 100, 150
        )
        f_before, r_before = _files_scanned_for_range(
            zone_map_audit(spark, t, base_v, key), 100, 150
        )
        assert f_after < f_before, key
        assert r_after < r_before, key

    with pytest.raises(ValueError, match="morton|hilbert"):
        optimize_version(spark, t, ["a"], curve="peano")


def test_restore_version_rereferences_without_rewrite(spark, tmp_path):
    """RESTORE (r16): commit a new version that IS an old snapshot by
    dir reference — O(1), no parquet written, history intact, and the
    restore keeps the referenced dirs alive through vacuum."""
    from utility_service_areas_spark.sources.versioned import (
        restore_version,
        vacuum,
    )

    t = str(tmp_path / "tbl")
    v0 = write_version_bucketed(
        _kv(spark, [(k, f"v{k}") for k in range(32)]), t, ["k"], 4
    )
    v1 = merge_version(spark, t, _ch(spark, [(3, "BAD", "U"), (7, None, "D")]))
    want_v0 = {(r.k, r.v) for r in read_version(spark, t, v0).collect()}

    def _data_dirs():
        return sorted(os.listdir(os.path.join(t, "data")))

    dirs_before = _data_dirs()
    v2 = restore_version(t, v0)
    assert v2 == v1 + 1
    assert _data_dirs() == dirs_before  # nothing written: pure reference

    man = _manifest(t, v2)
    assert man["mode"] == "restore" and man["restored_from"] == v0
    assert {(r.k, r.v) for r in read_version(spark, t).collect()} == want_v0
    # history intact: the bad version still reads
    assert (3, "BAD") in {(r.k, r.v) for r in read_version(spark, t, v1).collect()}
    # restoring to the latest is a no-op, not a new commit
    assert restore_version(t, v2) == v2

    # the restored lineage keeps its bucket map: merges still COW
    v3 = merge_version(spark, t, _ch(spark, [(5, "NEW", "U")]))
    got = {(r.k, r.v) for r in read_version(spark, t, v3).collect()}
    assert got == (want_v0 - {(5, "v5")}) | {(5, "NEW")}

    # vacuum keeping only the restore (and later) must keep v0's dirs
    from tests.conftest import backdate_tree

    backdate_tree(t)
    vacuum(t, keep_last=2, tmp_grace_seconds=0)
    assert {(r.k, r.v) for r in read_version(spark, t, v2).collect()} == want_v0


# ---------------------------------------------------------------------------
# r16: write-time manifest file stats — zero-footer read planning
# ---------------------------------------------------------------------------


@pytest.mark.usefixtures("versioned_table")
def test_manifest_file_stats_plan_without_footers(spark, tmp_path, monkeypatch):
    """stats_columns records per-file zones in the manifest at WRITE
    time (the Delta commit-log posture); the reader then plans file
    skipping from the manifest ALONE — pinned by making footer opens
    impossible during partitions() — with the same partition count the
    footer path produces, and row-identical answers (row-group pruning
    moves executor-side)."""
    import pyarrow.parquet as _pq
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from utility_service_areas_spark.sources.pyds import VersionedTableReader
    from utility_service_areas_spark.sources.versioned import (
        optimize_version,
        zone_map_audit,
    )

    rows = [(i, (i * 7919) % 1000) for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, a long").repartition(8)
    t = str(tmp_path / "tbl")
    write_version(df, t)
    v = optimize_version(spark, t, ["a"], n_files=8)  # records stats for a
    man = _manifest(t, v)
    assert "file_stats" in man
    stats = man["file_stats"]
    assert sum(s["rows"] for s in stats.values()) == 4000
    # manifest zones == footer zones (written FROM the footers)
    for z in zone_map_audit(spark, t, v, "a"):
        assert stats[z["file"]]["cols"]["a"] == [z["min"], z["max"]]

    want_files, _ = _files_scanned_for_range(
        zone_map_audit(spark, t, v, "a"), 100, 150
    )
    schema = spark.read.format("versioned_table").load(t).schema
    reader = VersionedTableReader({"path": t}, schema)
    flt = [GreaterThanOrEqual(("a",), 100), LessThanOrEqual(("a",), 150)]
    list(reader.pushFilters(flt))

    def no_footers(*a, **kw):
        raise AssertionError("partitions() opened a parquet footer")

    import utility_service_areas_spark.sources.pyds as pyds_mod

    monkeypatch.setattr(_pq, "ParquetFile", no_footers)
    try:
        parts = reader.partitions()
    finally:
        monkeypatch.undo()
    assert len(parts) == want_files  # same plan as the footer path
    assert all(p.row_groups is None for p in parts)  # executor prunes

    got = sorted(
        (r.id, r.a)
        for r in spark.read.format("versioned_table")
        .load(t)
        .filter("a BETWEEN 100 AND 150")
        .collect()
    )
    assert got == sorted((i, a) for i, a in rows if 100 <= a <= 150)


@pytest.mark.usefixtures("versioned_table")
def test_manifest_file_stats_carry_across_appends(spark, tmp_path):
    """Appends carry the previous stats forward (immutable dirs) and
    add their own; files without stats are simply scanned, never
    mispruned."""
    from pyspark.sql.datasource import EqualTo

    from utility_service_areas_spark.sources.pyds import VersionedTableReader

    t = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([(k, "x") for k in range(10)], "k long, v string"),
        t,
    )  # v0: NO stats
    write_version(
        spark.createDataFrame(
            [(k, "y") for k in range(100, 110)], "k long, v string"
        ),
        t,
        stats_columns=["k"],
    )  # v1: stats for its own file(s) only
    man = _manifest(t, 1)
    assert man.get("file_stats")  # v1's files
    schema = spark.read.format("versioned_table").load(t).schema
    r = VersionedTableReader({"path": t}, schema)
    list(r.pushFilters([EqualTo(("k",), 5)]))
    parts = r.partitions()
    # v0 files (no stats) must all survive; every v1 file that HOLDS
    # rows (stats say k>=100) must be skipped — empty part files carry
    # a NULL zone and survive conservatively, which is correct
    rels = {os.path.relpath(p.file_path, t) for p in parts}
    assert any(rel not in man["file_stats"] for rel in rels)  # v0 kept
    assert all(
        man["file_stats"][rel]["rows"] == 0
        for rel in rels
        if rel in man["file_stats"]
    )
    got = {
        (r2.k, r2.v)
        for r2 in spark.read.format("versioned_table")
        .load(t)
        .filter("k = 5")
        .collect()
    }
    assert got == {(5, "x")}


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


def test_merge_rejects_unknown_op_bucketed(spark, tmp_path):
    """merge_version rejects op values outside {'U','D'} — a typo'd op
    used to fall through as a silent DELETE."""
    t = str(tmp_path / "tbl")
    write_version_bucketed(_kv(spark, [(1, "a"), (2, "b")]), t, ["k"], 4)
    with pytest.raises(ValueError, match="must be 'U' or 'D'"):
        merge_version(spark, t, _ch(spark, [(1, "x", "u")]))
    with pytest.raises(ValueError, match="must be 'U' or 'D'"):
        merge_version(spark, t, _ch(spark, [(2, "y", None)]))
    # nothing committed, base intact
    got = {(r.k, r.v) for r in read_version(spark, t, 0).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_versioned_vacuum_spares_dir_with_fresh_inner_file(spark, tmp_path):
    """The data-dir age gate keys off the NEWEST file in the tree, so
    an in-flight write whose parent dir mtime went stale is spared."""
    from tests.conftest import backdate_tree

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


def test_vacuum_finishes_list_when_dir_vanishes_midway(
    spark, tmp_path, monkeypatch
):
    """vacuum's act phase tolerates a planned dir vanishing (a
    concurrent vacuum) and still finishes its delete list."""
    import shutil as shutil_mod

    from tests.conftest import backdate_tree

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


_BASE = [(1, "a"), (2, "b")]


@pytest.mark.parametrize(
    "setup, commit, want",
    [
        pytest.param(
            lambda spark, t: write_version(_kv(spark, _BASE), t),
            lambda spark, t: write_version(_kv(spark, [(3, "c")]), t),
            {(1, "a"), (2, "b"), (3, "c")},
            id="write_version",
        ),
        pytest.param(
            lambda spark, t: (
                write_version(_kv(spark, _BASE), t),
                write_version(_kv(spark, [(9, "z")]), t, mode="overwrite"),
            ),
            lambda spark, t: restore_version(t, 0),
            set(_BASE),
            id="restore_version",
        ),
        pytest.param(
            lambda spark, t: write_version(_kv(spark, _BASE), t),
            lambda spark, t: write_version_bucketed(
                _kv(spark, [(3, "c")]), t, ["k"], 4
            ),
            {(3, "c")},
            id="write_version_bucketed",
        ),
        pytest.param(
            lambda spark, t: write_version_bucketed(_kv(spark, _BASE), t, ["k"], 4),
            lambda spark, t: merge_version(spark, t, _ch(spark, [(1, "x", "U")])),
            {(1, "x"), (2, "b")},
            id="merge_version_bucketed",
        ),
    ],
)
def test_claim_rewrites_a_swept_temp(spark, tmp_path, monkeypatch, setup, commit, want):
    """A vacuum that sweeps a writer's commit temp between its write
    and the hard-link claim (the young-temp grace makes this rare, not
    impossible) must neither fail the commit nor double it: the claim
    rewrites the temp and links again. Every versioned writer claims
    through the same helper, so each is run once here."""
    import utility_service_areas_spark.sources.versioned as vmod

    t = str(tmp_path / "tbl")
    setup(spark, t)
    before = list_versions(t)

    real_link = os.link
    swept = []

    def sweep_once(src, dst, *a, **kw):
        if not swept:
            swept.append(src)
            os.unlink(src)  # the vacuum got there first
            raise FileNotFoundError(src)
        return real_link(src, dst, *a, **kw)

    monkeypatch.setattr(vmod.os, "link", sweep_once)
    v = commit(spark, t)
    assert swept
    assert list_versions(t) == before + [before[-1] + 1] and v == before[-1] + 1
    assert {(r.k, r.v) for r in read_version(spark, t).collect()} == want
    assert not [n for n in os.listdir(t) if n.startswith("_tmp-")]


# ---------------------------------------------------------------------------
# Empty snapshots and vacuum: dry-run plan, commit-temp and orphan-dir grace
# ---------------------------------------------------------------------------


def _rows(spark, t, v=None):
    return {(r.k, r.v) for r in read_version(spark, t, v).collect()}


BASE = [(k, f"base{k}") for k in range(20)]


def test_all_deleted_snapshot_reads_empty_with_schema(spark, tmp_path):
    """ADVICE r13 #2: a version whose every row was deleted is a VALID
    empty snapshot — read_version returns a zero-row frame with the
    manifest's schema instead of raising from a zero-path parquet
    read; diff_versions across it works."""
    t = str(tmp_path / "bucketed")
    write_version_bucketed(_kv(spark, [(1, "a"), (2, "b")]), t, ["k"], 2)
    v = merge_version(spark, t, _ch(spark, [(1, "", "D"), (2, "", "D")]))
    empty = read_version(spark, t, v)
    assert empty.count() == 0
    assert sorted(
        (f.name, f.dataType.simpleString()) for f in empty.schema.fields
    ) == [("k", "bigint"), ("v", "string")]
    d = diff_versions(spark, t, 0, v)
    assert d["removed"] == 2 and d["n_rows_new"] == 0
    # and the table accepts a fresh merge after total deletion
    v2 = merge_version(spark, t, _ch(spark, [(5, "back", "U")]))
    assert _rows(spark, t, v2) == {(5, "back")}


def test_vacuum_dry_run_plans_without_deleting(spark, tmp_path):
    """VERDICT r13 task #6: dry_run returns the exact would-delete set
    (manifests + dirs by name) and touches NOTHING; the real vacuum
    then deletes exactly that plan."""
    t = str(tmp_path / "tbl")
    write_version_bucketed(_kv(spark, BASE), t, ["k"], 4)
    merge_version(spark, t, _ch(spark, [(1, "m1", "U")]))
    merge_version(spark, t, _ch(spark, [(2, "m2", "U")]))
    all_rows = _rows(spark, t)
    files_before = sorted(
        os.path.join(r, x)
        for r, _d, fs in os.walk(t)
        for x in fs
    )

    plan = vacuum(t, keep_last=1, dry_run=True)
    assert plan["dry_run"] is True
    assert plan["manifests"] == ["_v0.json", "_v1.json"]
    assert plan["manifests_removed"] == 2
    assert plan["dirs_removed"] == len(plan["dirs"]) > 0
    # nothing touched: every file still present, all versions readable
    files_after = sorted(
        os.path.join(r, x)
        for r, _d, fs in os.walk(t)
        for x in fs
    )
    assert files_after == files_before
    assert list_versions(t) == [0, 1, 2]

    real = vacuum(t, keep_last=1)
    assert real["manifests"] == plan["manifests"]
    assert real["dirs"] == plan["dirs"]
    assert list_versions(t) == [2]
    assert _rows(spark, t) == all_rows


def test_vacuum_spares_young_commit_temps(spark, tmp_path):
    """ADVICE r13 #3: a temp younger than the grace window (a writer
    mid-claim) SURVIVES vacuum; a stale temp (backdated mtime) is
    swept. The claim loops additionally retry on FileNotFoundError."""
    t = str(tmp_path / "tbl")
    write_version(_kv(spark, [(1, "a")]), t)
    young = os.path.join(t, "_tmp-v9-young.json")
    stale = os.path.join(t, "_tmp-v9-stale.json")
    for p in (young, stale):
        with open(p, "w") as f:
            f.write("{}")
    os.utime(stale, (0, 0))  # ancient

    plan = vacuum(t, keep_last=1, dry_run=True)
    assert plan["tmps"] == ["_tmp-v9-stale.json"]
    vacuum(t, keep_last=1)
    assert os.path.exists(young) and not os.path.exists(stale)
    # tmp_grace_seconds=0 restores the sweep-everything behavior
    vacuum(t, keep_last=1, tmp_grace_seconds=0)
    assert not os.path.exists(young)


def test_vacuum_spares_young_orphan_data_dirs(spark, tmp_path):
    """r14 review #3: a data dir referenced by NO manifest may be an
    IN-FLIGHT commit (parquet lands seconds before the manifest claim)
    — vacuum must spare it until it ages past the grace window, else a
    writer can commit a readable manifest pointing at deleted data.
    Dirs referenced by EXPIRED manifests were durably committed and go
    regardless of age."""
    t = str(tmp_path / "tbl")
    write_version(_kv(spark, [(1, "a")]), t)
    write_version(_kv(spark, [(2, "b")]), t, mode="overwrite")  # v0 expires

    young = os.path.join(t, "data", "commit-inflight")
    stale = os.path.join(t, "data", "commit-crashedlongago")
    for p in (young, stale):
        os.makedirs(p)
        with open(os.path.join(p, "part.parquet"), "w") as f:
            f.write("x")
    from tests.conftest import backdate_tree

    backdate_tree(stale)

    plan = vacuum(t, keep_last=1, dry_run=True)
    dirs = set(plan["dirs"])
    # v0's expired-committed dir is reclaimed regardless of age...
    assert any(d.startswith(os.path.join("data", "commit-")) for d in dirs)
    # ...the stale orphan too, but the fresh (in-flight) one is spared
    assert os.path.join("data", "commit-crashedlongago") in dirs
    assert os.path.join("data", "commit-inflight") not in dirs

    vacuum(t, keep_last=1)
    assert os.path.exists(young) and not os.path.exists(stale)
    assert _rows(spark, t) == {(2, "b")}
