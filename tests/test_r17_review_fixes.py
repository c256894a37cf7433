"""Round-17 review fixes, pinned.

ADVICE r16 findings #1-#5 (stats-less row groups must unbound the
manifest zone, committed generation markers are never stealable,
restore carries file_stats, stream offsets carry the predecessor dir
set, driver footer planning stores explicit row-group lists) plus
VERDICT r16 tasks #2 (column projection for the versioned DataSource),
#5 (bucketed writes default stats to the bucket key), and #7
(truncated string statistics never feed a zone test).
"""

from __future__ import annotations

import json
import os

import pytest

from utility_service_areas_spark.sources.versioned import (
    _collect_file_stats,
    exact_stat_bounds,
    list_versions,
    merge_version,
    read_version,
    restore_version,
    vacuum,
    write_version,
    write_version_bucketed,
)


def _manifest_any(table_dir: str, version: int) -> dict:
    from utility_service_areas_spark.sources import versioned as vt

    return vt._read_manifest(table_dir, version)


# ---------------------------------------------------------------------------
# ADVICE r16 #1: a stat-less (non-all-null) row group unbounds its column
# ---------------------------------------------------------------------------


def test_file_stats_statless_row_group_unbounds_column(tmp_path):
    """A column with a row group whose footer omits min/max (writers do
    this, e.g. for long strings) must NOT be recorded in the manifest
    zone — partial bounds from the other groups would let the planner
    prune a file that holds matching rows. All-null and empty row
    groups stay harmless: they contribute no values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "tbl" / "data" / "commit-x"
    d.mkdir(parents=True)

    # file 1: column s has NO statistics at all (but holds values)
    pq.write_table(
        pa.table({"k": list(range(100)), "s": [f"v{i}" for i in range(100)]}),
        str(d / "a.parquet"),
        write_statistics=["k"],
    )
    out = _collect_file_stats(
        str(tmp_path / "tbl"), os.path.join("data", "commit-x"), ["k", "s"]
    )
    st = out[os.path.join("data", "commit-x", "a.parquet")]
    assert st["cols"]["k"] == [0, 99]
    assert "s" not in st["cols"]  # unbounded column: never recorded

    # file 2: s is ALL NULL in row group 0, valued in group 1 — the
    # null group has no min/max but provably no values either, so the
    # valued group's bounds stand
    d2 = tmp_path / "tbl" / "data" / "commit-y"
    d2.mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "k": list(range(200)),
                "s": [None] * 100 + [f"b{i:03d}" for i in range(100)],
            }
        ),
        str(d2 / "b.parquet"),
        row_group_size=100,
    )
    out2 = _collect_file_stats(
        str(tmp_path / "tbl"), os.path.join("data", "commit-y"), ["s"]
    )
    st2 = out2[os.path.join("data", "commit-y", "b.parquet")]
    assert st2["cols"]["s"] == ["b000", "b099"]


def test_exact_stat_bounds_drops_truncated_bounds():
    """VERDICT r16 task #7: a footer bound marked inexact (truncated
    long-string min/max — a shortened max is a PREFIX of the real max,
    not an upper bound) must never feed a zone test. Pinned against a
    stub because the env's pyarrow (16.x) predates the accessor — the
    getattr default keeps untruncated builds' bounds."""

    class St:
        has_min_max = True
        min = "aaa"
        max = "zzz"
        is_min_value_exact = True
        is_max_value_exact = True

    assert exact_stat_bounds(St()) == ("aaa", "zzz")
    St.is_max_value_exact = False
    assert exact_stat_bounds(St()) == ("aaa", None)
    St.is_min_value_exact = False
    assert exact_stat_bounds(St()) == (None, None)
    assert exact_stat_bounds(None) == (None, None)

    class NoMinMax:
        has_min_max = False

    assert exact_stat_bounds(NoMinMax()) == (None, None)


@pytest.mark.usefixtures("versioned_table")
def test_long_string_zones_never_false_prune(spark, tmp_path):
    """>64-byte string stats end-to-end: equality on a long-string
    column with manifest zones answers row-identically to the unpruned
    read (this env's pyarrow writes exact full-length bounds; the
    exactness guard covers builds that truncate)."""
    t = str(tmp_path / "tbl")
    pad = "A" * 80
    rows = [(i, f"{pad}{i:04d}") for i in range(400)]
    df = spark.createDataFrame(rows, "id long, s string").repartitionByRange(
        4, "s"
    )
    write_version(df, t, stats_columns=["s"])
    target = f"{pad}0123"
    got = {
        (r.id, r.s)
        for r in spark.read.format("versioned_table")
        .load(t)
        .filter(f"s = '{target}'")
        .collect()
    }
    assert got == {(123, target)}
    # and the zones DO prune: only one of the 4 range-partitioned
    # files admits the literal
    from pyspark.sql.datasource import EqualTo

    from utility_service_areas_spark.sources.pyds import VersionedTableReader

    schema = spark.read.format("versioned_table").load(t).schema
    r = VersionedTableReader({"path": t}, schema)
    list(r.pushFilters([EqualTo(("s",), target)]))
    assert len(r.partitions()) == 1


# ---------------------------------------------------------------------------
# ADVICE r16 #2: the committed generation's marker is never stealable
# ---------------------------------------------------------------------------


def test_claim_steal_never_removes_committed_generation(tmp_path):
    from utility_service_areas_spark.sources.fsutil import (
        claim_generation,
        committed_generation,
    )

    root = str(tmp_path / "store")
    os.makedirs(root)
    with open(os.path.join(root, "_MANIFEST.json"), "w") as f:
        json.dump({"generation": 5}, f)
    assert committed_generation(root) == 5

    # the CURRENT committed generation's marker, made to look ancient
    # (two slow writers >steal-window apart): it must survive — it is
    # what makes a stale-read racer's O_EXCL fail
    committed_marker = os.path.join(root, "_gen-000000005")
    open(committed_marker, "w").close()
    os.utime(committed_marker, (0, 0))
    assert claim_generation(root, 5) is False
    assert os.path.exists(committed_marker)  # NOT stolen
    assert claim_generation(root, 5) is False  # still blocked

    # an UNFINISHED claim above the committed generation is stealable
    # after the window (crashed writer unwedge — unchanged behavior)
    stale = os.path.join(root, "_gen-000000006")
    open(stale, "w").close()
    os.utime(stale, (0, 0))
    assert claim_generation(root, 6) is False  # steals, reports False
    assert not os.path.exists(stale)
    assert claim_generation(root, 6) is True  # next attempt claims

    # empty/unreadable store: nothing is committed, stealing allowed
    root2 = str(tmp_path / "fresh")
    os.makedirs(root2)
    assert committed_generation(root2) == 0
    m = os.path.join(root2, "_gen-000000001")
    open(m, "w").close()
    os.utime(m, (0, 0))
    assert claim_generation(root2, 1) is False
    assert not os.path.exists(m)


# ---------------------------------------------------------------------------
# ADVICE r16 #3: restore carries file_stats (and stats_columns)
# ---------------------------------------------------------------------------


def test_restore_carries_file_stats(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, i % 50) for i in range(500)], "id long, a long"
    ).repartition(4)
    write_version(df, t, stats_columns=["a"])  # v0 with zones
    write_version(
        spark.createDataFrame([(9999, 999)], "id long, a long"), t
    )  # v1 plain append (carries v0 stats)
    restored = restore_version(t, 0)
    man = _manifest_any(t, restored)
    assert man["mode"] == "restore" and man["restored_from"] == 0
    assert man.get("file_stats") == _manifest_any(t, 0).get("file_stats")
    assert man.get("stats_columns") == ["a"]
    # and the next append keeps carrying them
    write_version(
        spark.createDataFrame([(7777, 777)], "id long, a long"), t
    )
    nxt = _manifest_any(t, list_versions(t)[-1])
    assert set(_manifest_any(t, 0)["file_stats"]) <= set(nxt["file_stats"])


# ---------------------------------------------------------------------------
# ADVICE r16 #4: stream restarts never need a vacuumed manifest
# ---------------------------------------------------------------------------


@pytest.mark.usefixtures("versioned_table")
def test_stream_restart_survives_vacuumed_offset_manifest(spark, tmp_path):
    """A stream that restarts AFTER its last-consumed version's
    manifest was vacuumed must keep going: the offset carries the
    predecessor's data-dir set, so the diff never re-reads historical
    manifests (every data dir it still needs is retained — only the
    manifest JSON was swept)."""
    from tests.conftest import backdate_tree

    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")  # noqa: E731

    def drain():
        got = []

        def sink(df, batch_id):
            got.extend(tuple(r) for r in df.collect())

        q = (
            spark.readStream.format("versioned_table")
            .load(t)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return set(got)

    write_version(mk([(1, "a")]), t)
    write_version(mk([(2, "b")]), t)
    write_version(mk([(3, "c")]), t)
    assert drain() == {(1, "a"), (2, "b"), (3, "c")}  # consumed through v2

    write_version(mk([(4, "d")]), t)  # v3
    write_version(mk([(5, "e")]), t)  # v4
    backdate_tree(t)
    vacuum(t, keep_last=2, tmp_grace_seconds=0)  # v0-v2 manifests GONE
    assert not os.path.exists(os.path.join(t, "_v2.json"))

    # restart is 2 versions behind — pre-fix this raised
    # FileNotFoundError re-reading v2's manifest to rebuild prev_dirs
    assert drain() == {(4, "d"), (5, "e")}


# ---------------------------------------------------------------------------
# ADVICE r16 #5: driver footer planning stores the explicit group list
# ---------------------------------------------------------------------------


@pytest.mark.usefixtures("versioned_table")
def test_driver_footer_partitions_carry_explicit_row_groups(spark, tmp_path):
    """In the no-manifest-stats branch the driver already opened every
    surviving file's footer — the planned partitions must say so
    (explicit row-group list), or read() re-opens and re-prunes the
    same footer executor-side. row_groups=None is reserved for
    manifest-stats planning, where the executor prune is the point."""
    from pyspark.sql.datasource import GreaterThan

    from utility_service_areas_spark.sources.pyds import VersionedTableReader

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i,) for i in range(400)], "k long"
    ).repartitionByRange(4, "k")
    write_version(df, t)  # no stats_columns -> no manifest stats
    assert "file_stats" not in _manifest_any(t, 0)

    schema = spark.read.format("versioned_table").load(t).schema
    r = VersionedTableReader({"path": t}, schema)
    list(r.pushFilters([GreaterThan(("k",), -1)]))  # keeps every group
    parts = r.partitions()
    assert parts, "expected surviving partitions"
    assert all(isinstance(p.row_groups, list) for p in parts)
    # and read() consumes them without re-pruning (row-identical)
    got = {
        r2.k
        for r2 in spark.read.format("versioned_table")
        .load(t)
        .filter("k > 395")
        .collect()
    }
    assert got == {396, 397, 398, 399}


# ---------------------------------------------------------------------------
# VERDICT r16 task #2: column projection (`columns` option) end-to-end
# ---------------------------------------------------------------------------


def _wide_rows(n=200):
    return [tuple([i] + [i * 10 + j for j in range(9)]) for i in range(n)]


_WIDE_SCHEMA = "id long, " + ", ".join(f"c{j} long" for j in range(9))


@pytest.mark.usefixtures("versioned_table")
def test_columns_option_projects_schema_and_values(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_version(spark.createDataFrame(_wide_rows(), _WIDE_SCHEMA), t)

    one = (
        spark.read.format("versioned_table").option("columns", "c3").load(t)
    )
    assert one.columns == ["c3"]
    assert sorted(r.c3 for r in one.collect()) == sorted(
        row[4] for row in _wide_rows()
    )
    # multi-column, caller's order (not file order)
    two = (
        spark.read.format("versioned_table")
        .option("columns", "c7,id")
        .load(t)
    )
    assert two.columns == ["c7", "id"]
    assert sorted((r.c7, r.id) for r in two.collect()) == sorted(
        (row[8], row[0]) for row in _wide_rows()
    )

    with pytest.raises(Exception, match="unknown column"):
        spark.read.format("versioned_table").option(
            "columns", "nope"
        ).load(t).collect()


@pytest.mark.usefixtures("versioned_table")
def test_columns_projection_reads_only_named_pages(spark, tmp_path):
    """The plan-pinned I/O claim: the Arrow scan passes the projection
    to pyarrow's column-chunk reader — a 1-column read of a 10-column
    lineage decodes only that column's pages. Pinned by recording the
    `columns=` argument every iter_batches call receives."""
    import pyarrow.parquet as _pq

    from utility_service_areas_spark.sources import pyds as pyds_mod

    t = str(tmp_path / "tbl")
    write_version(spark.createDataFrame(_wide_rows(), _WIDE_SCHEMA), t)
    schema = (
        spark.read.format("versioned_table").option("columns", "c3").load(t)
    ).schema

    seen: list[list[str] | None] = []
    real_pf = _pq.ParquetFile

    class Recording:
        def __init__(self, path):
            self._pf = real_pf(path)
            self.schema_arrow = self._pf.schema_arrow
            self.metadata = self._pf.metadata
            self.num_row_groups = self._pf.num_row_groups

        def iter_batches(self, *a, **kw):
            seen.append(kw.get("columns"))
            return self._pf.iter_batches(*a, **kw)

    reader = pyds_mod.VersionedTableReader({"path": t}, schema)
    parts = reader.partitions()
    assert parts
    orig = _pq.ParquetFile
    _pq.ParquetFile = Recording
    try:
        rows = [b for p in parts for b in reader.read(p)]
    finally:
        _pq.ParquetFile = orig
    assert rows and seen
    assert all(cols == ["c3"] for cols in seen), seen
    assert all(b.schema.names == ["c3"] for b in rows)


@pytest.mark.usefixtures("versioned_table")
def test_columns_projection_with_pushed_filter_and_evolution(spark, tmp_path):
    """Projection composes with filter pushdown (filter on a projected
    column still prunes) and with schema evolution (projecting an
    added column over a pre-evolution file null-fills)."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(k, f"v{k}") for k in range(40)], "k long, v string"
    ).repartitionByRange(4, "k")
    write_version(df, t)
    got = (
        spark.read.format("versioned_table")
        .option("columns", "k")
        .load(t)
        .filter("k = 25")
        .collect()
    )
    assert [(r.k,) for r in got] == [(25,)]

    # evolution interplay
    write_version(
        spark.createDataFrame(
            [(100, "z", 7)], "k long, v string, extra long"
        ),
        t,
        merge_schema=True,
    )
    proj = (
        spark.read.format("versioned_table")
        .option("columns", "extra,k")
        .load(t)
    )
    assert proj.columns == ["extra", "k"]
    vals = {(r.extra, r.k) for r in proj.collect()}
    assert (7, 100) in vals
    assert sum(1 for e, _ in vals if e is None) > 0  # pre-evolution NULLs

    with pytest.raises(Exception, match="at least one"):
        spark.read.format("versioned_table").option(
            "columns", " , "
        ).load(t).collect()


def test_read_version_columns_and_cli(spark, tmp_path, capsys):
    t = str(tmp_path / "tbl")
    write_version(spark.createDataFrame(_wide_rows(50), _WIDE_SCHEMA), t)
    df = read_version(spark, t, columns=["c5", "id"])
    assert df.columns == ["c5", "id"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    # native parquet column pruning: the scan's ReadSchema holds only
    # the projected columns
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "c5" in read_schema and "id" in read_schema
    assert "c3" not in read_schema
    with pytest.raises(ValueError, match="unknown column"):
        read_version(spark, t, columns=["nope"])

    from utility_service_areas_spark.__main__ import main

    assert (
        main(
            [
                "table",
                "read",
                "--table-dir",
                t,
                "--columns",
                "id,c2",
                "--limit",
                "3",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "50 rows" in out and "c2" in out


# ---------------------------------------------------------------------------
# VERDICT r16 task #5: bucketed writes default stats to the bucket key
# ---------------------------------------------------------------------------


def test_bucketed_write_records_bucket_key_stats_by_default(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(k, f"v{k}") for k in range(200)], "k long, v string"
    )
    write_version_bucketed(df, t, ["k"], n_buckets=8)
    man = _manifest_any(t, 0)
    assert man["stats_columns"] == ["k"]
    assert man["file_stats"]
    assert sum(s["rows"] for s in man["file_stats"].values()) == 200
    for st in man["file_stats"].values():
        if st["rows"]:
            assert "k" in st["cols"]

    # opt-out stays available
    t2 = str(tmp_path / "tbl2")
    write_version_bucketed(df, t2, ["k"], n_buckets=8, stats_columns=[])
    assert "file_stats" not in _manifest_any(t2, 0)


def test_bucketed_stats_survive_merge(spark, tmp_path):
    """A merge re-collects zones for the buckets it rewrote and carries
    untouched buckets' zones by reference — plan-time skipping never
    erodes across merges."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(k, f"v{k}") for k in range(200)], "k long, v string"
    )
    write_version_bucketed(df, t, ["k"], n_buckets=8)
    ch = spark.createDataFrame([(5, "NEW", "U"), (7, None, "D")],
                               "k long, v string, op string")
    v = merge_version(spark, t, ch)
    man = _manifest_any(t, v)
    assert man.get("stats_columns") == ["k"]
    fs = man.get("file_stats", {})
    # every data dir with rows has zone entries under it
    covered_dirs = {os.path.dirname(rel) for rel in fs}
    with_rows = {
        d
        for b, dirs in man["buckets"].items()
        for d in dirs
        if man["bucket_rows"].get(b, 0) > 0
    }
    assert with_rows <= covered_dirs
    # and the merged table still answers exactly
    rows = {(r.k, r.v) for r in read_version(spark, t).collect()}
    assert (5, "NEW") in rows and all(k != 7 for k, _ in rows)
    assert len(rows) == 199
