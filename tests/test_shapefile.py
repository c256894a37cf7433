"""Shapefile source (S17): write real .shp/.shx/.dbf fixtures with the
package's own builder, read them back through the DISTRIBUTED reader
(binaryFile → mapInPandas → (base, recno) join), and assert exact
geometry + attribute round trips, including multi-part shapes, every
supported shape type, deleted .dbf rows, and truncated files.
"""

from __future__ import annotations

import struct
import time

import pytest

from tests.conftest import SMOKE_SF
from utility_service_areas_spark.sources.shapefile import (
    SHAPE_MULTIPOINT,
    SHAPE_NULL,
    SHAPE_POINT,
    SHAPE_POLYGON,
    SHAPE_POLYLINE,
    build_shapefile,
    parse_dbf_bytes,
    parse_shp_bytes,
    read_shapefile,
    write_shapefile,
)

FIELDS = [("NAME", "C", 16, 0), ("KEY", "N", 8, 0), ("ACTIVE", "L", 1, 0)]

# A polygon with a hole, a 2-part polyline, a point, a multipoint, and
# a null shape — every supported type in one file.
RECORDS = [
    (
        SHAPE_POLYGON,
        [
            [[0.0, 0.0], [0.0, 10.0], [10.0, 10.0], [10.0, 0.0], [0.0, 0.0]],
            [[2.0, 2.0], [4.0, 2.0], [4.0, 4.0], [2.0, 4.0], [2.0, 2.0]],
        ],
        {"NAME": "poly_hole", "KEY": 1, "ACTIVE": True},
    ),
    (
        SHAPE_POLYLINE,
        [[[0.0, 0.0], [1.5, 2.5]], [[3.0, 3.0], [4.0, 5.0], [6.0, 1.0]]],
        {"NAME": "two_part_line", "KEY": 2, "ACTIVE": False},
    ),
    (SHAPE_POINT, [[[7.25, -3.5]]], {"NAME": "pt", "KEY": 3, "ACTIVE": True}),
    (
        SHAPE_MULTIPOINT,
        [[[1.0, 1.0], [2.0, 2.0], [3.0, 1.0]]],
        {"NAME": "mpt", "KEY": 4, "ACTIVE": True},
    ),
    (SHAPE_NULL, [], {"NAME": "nothing", "KEY": 5, "ACTIVE": False}),
]


def test_bytes_roundtrip_all_shape_types():
    shp, shx, dbf = build_shapefile(RECORDS, FIELDS)
    # header invariants (public ESRI layout)
    assert struct.unpack(">i", shp[:4])[0] == 9994
    assert struct.unpack("<i", shp[28:32])[0] == 1000
    assert struct.unpack(">i", shp[24:28])[0] * 2 == len(shp)
    assert len(shx) == 100 + 8 * len(RECORDS)

    geo = parse_shp_bytes("f.shp", shp)
    assert [g["recno"] for g in geo] == [1, 2, 3, 4, 5]
    assert [g["shape_type"] for g in geo] == [
        "polygon",
        "polyline",
        "point",
        "multipoint",
        "null",
    ]
    for got, (_, want_geom, _) in zip(geo, RECORDS):
        assert got["geometry"] == [list(map(list, part)) for part in want_geom]

    at = parse_dbf_bytes("f.dbf", dbf)
    assert len(at) == 5
    assert at[0]["attrs"] == {"NAME": "poly_hole", "KEY": "1", "ACTIVE": "T"}
    assert at[4]["attrs"]["ACTIVE"] == "F"


def test_deleted_dbf_row_is_skipped():
    _, _, dbf = build_shapefile(RECORDS[:2], FIELDS)
    hdr_size = struct.unpack("<H", dbf[8:10])[0]
    mutated = bytearray(dbf)
    mutated[hdr_size] = 0x2A  # mark record 1 deleted
    rows = parse_dbf_bytes("f.dbf", bytes(mutated))
    assert [r["recno"] for r in rows] == [2]


def test_truncated_shp_yields_readable_prefix():
    shp, _, _ = build_shapefile(RECORDS, FIELDS)
    # cut mid-way through record 3's content
    geo_full = parse_shp_bytes("f.shp", shp)
    assert len(geo_full) == 5
    cut = parse_shp_bytes("f.shp", shp[: len(shp) - 30])
    assert 0 < len(cut) < 5
    assert parse_shp_bytes("f.shp", b"not a shapefile") == []
    assert parse_dbf_bytes("f.dbf", b"\x07garbage") == []


def test_truncated_dbf_stops_at_readable_prefix():
    """ADVICE r9: a truncated .dbf must stop at the readable prefix
    (like parse_shp_bytes does), and a corrupt header over-claiming
    the record count — n_rec is an untrusted u32, up to 2^32 — must
    not spin through billions of empty slices."""
    _, _, dbf = build_shapefile(RECORDS, FIELDS)
    hdr_size, rec_size = struct.unpack("<HH", dbf[8:12])
    # genuine truncation: cut mid-way through record 4
    cut = dbf[: hdr_size + 3 * rec_size + rec_size // 2]
    rows = parse_dbf_bytes("f.dbf", cut)
    assert [r["recno"] for r in rows] == [1, 2, 3]
    # hostile header: claims 50M records over the same 5-record body
    forged = bytearray(dbf)
    forged[4:8] = struct.pack("<I", 50_000_000)
    t0 = time.time()
    rows = parse_dbf_bytes("f.dbf", bytes(forged))
    assert [r["recno"] for r in rows] == [1, 2, 3, 4, 5]
    assert time.time() - t0 < 5.0  # prefix-stop, not a 50M-iteration spin


def test_distributed_read_joins_geometry_and_attrs(spark, tmp_path):
    write_shapefile(str(tmp_path), "areas", RECORDS, FIELDS)
    # a second file in the same directory: the join key is (base,
    # recno), so same recnos in different files must not collide
    write_shapefile(
        str(tmp_path),
        "other",
        [(SHAPE_POINT, [[[9.0, 9.0]]], {"NAME": "other_pt", "KEY": 9, "ACTIVE": True})],
        FIELDS,
    )
    df = read_shapefile(spark, str(tmp_path))
    rows = {(r.base.rsplit("/", 1)[-1], r.recno): r for r in df.collect()}
    assert len(rows) == 6
    poly = rows[("areas", 1)]
    assert poly.shape_type == "polygon"
    assert len(poly.geometry) == 2  # outer ring + hole survive as parts
    assert poly.attrs["NAME"] == "poly_hole"
    assert rows[("other", 1)].attrs["KEY"] == "9"
    nul = rows[("areas", 5)]
    assert nul.shape_type == "null" and list(nul.geometry) == []


def test_registered_roundtrip_query_matches_rect_arithmetic(spark):
    from utility_service_areas_spark.plans.registry import all_queries

    out = all_queries()["geo_shapefile_roundtrip"](spark, SMOKE_SF)
    rows = out.collect()
    assert len(rows) == 25
    for r in rows:
        k = r.n_nationkey
        assert r.x0_milli == (k % 5) * 6 * 1000
        assert r.w_milli == (5 + (k % 3) * 2) * 1000
        assert r.n_points == 5 and r.shape_type == "polygon"
        assert r.name_back == f"NATION_{k}"


@pytest.mark.parametrize("ftype,val,want", [("N", 42, "42"), ("C", "x y", "x y")])
def test_dbf_field_width_clipping(ftype, val, want):
    recs = [(SHAPE_POINT, [[[0.0, 0.0]]], {"V": val})]
    _, _, dbf = build_shapefile(recs, [("V", ftype, 8, 0)])
    assert parse_dbf_bytes("f", dbf)[0]["attrs"]["V"] == want


# --- property-based round trip -------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _coord = st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    )
    _point = st.tuples(_coord, _coord).map(list)
    _ring = st.lists(_point, min_size=3, max_size=12)
    _polygon = st.lists(_ring, min_size=1, max_size=3)
    _attrs = st.fixed_dictionaries(
        {
            "NAME": st.text(
                alphabet=st.characters(min_codepoint=32, max_codepoint=126),
                max_size=16,
            ),
            "KEY": st.integers(min_value=0, max_value=99_999_999),
        }
    )
    _record = st.one_of(
        st.tuples(st.just(SHAPE_POLYGON), _polygon, _attrs),
        st.tuples(st.just(SHAPE_POLYLINE), _polygon, _attrs),
        st.tuples(st.just(SHAPE_POINT), _point.map(lambda p: [[p]]), _attrs),
        st.tuples(st.just(SHAPE_NULL), st.just([]), _attrs),
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(_record, min_size=1, max_size=8))
    def test_property_roundtrip_any_records(records):
        """ANY mix of shapes and attributes must survive
        build → parse bit-exactly: coordinates are IEEE doubles on
        both sides, record numbering is 1-based and dense, and the
        dbf round trip preserves clipped/stripped field values."""
        shp, _shx, dbf = build_shapefile(records, FIELDS[:2])
        geo = parse_shp_bytes("p.shp", shp)
        at = parse_dbf_bytes("p.dbf", dbf)
        assert [g["recno"] for g in geo] == list(range(1, len(records) + 1))
        assert len(at) == len(records)
        for got, (stype, want_geom, attrs) in zip(geo, records):
            if stype == SHAPE_NULL:
                assert got["geometry"] == []
            else:
                assert got["geometry"] == [
                    [list(map(float, p)) for p in part] for part in want_geom
                ]
        for got_a, (_, _, attrs) in zip(at, records):
            want_name = attrs["NAME"].encode("ascii", "replace")[:16].decode().strip()
            assert got_a["attrs"]["NAME"] == want_name
            assert got_a["attrs"]["KEY"] == str(attrs["KEY"])

except ImportError:  # pragma: no cover - hypothesis is baked in per env
    pass


def test_shapefile_pip_fixture_layout(spark):
    """geo_shapefile_pip materializes one .shp/.dbf pair PER REGION so
    the binaryFile scan parallelizes by file, and reuses the fixture
    on re-run instead of rewriting it."""
    import glob
    import hashlib
    import os
    import tempfile

    from utility_service_areas_spark.plans.geo_queries import geo_shapefile_pip

    sf_dir = SMOKE_SF
    out1 = {r.n_nationkey: r.n_customers for r in geo_shapefile_pip(spark, sf_dir).collect()}
    assert len(out1) == 25

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    fix = os.path.join(tempfile.gettempdir(), f"usa_shp_pip_{tag}")
    shps = sorted(glob.glob(os.path.join(fix, "*.shp")))
    dbfs = sorted(glob.glob(os.path.join(fix, "*.dbf")))
    assert len(shps) == 5 and len(dbfs) == 5  # one pair per region

    mtimes = {p: os.path.getmtime(p) for p in shps + dbfs}
    out2 = {r.n_nationkey: r.n_customers for r in geo_shapefile_pip(spark, sf_dir).collect()}
    assert out2 == out1
    assert {p: os.path.getmtime(p) for p in shps + dbfs} == mtimes  # reused


def test_reader_ignores_underscore_temp_files(spark, tmp_path):
    """A writer's uncommitted temps (`_tmp-...`) can sit in the target
    directory until a commit renames them; read_shapefile must never
    list them, or a read racing a write observes half-written pairs.
    binaryFile applies Hadoop's hidden-file convention (`_` and `.`
    prefixed names are never data) to both of its scans."""
    d = str(tmp_path)
    fields = [("NAME", "C", 8, 0)]
    write_shapefile(d, "part-00000", [(1, [[[1.0, 2.0]]], {"NAME": "ok"})], fields)
    # a stranded temp trio from a crashed writer
    write_shapefile(
        d, "_tmp-dead-part-00001", [(1, [[[9.0, 9.0]]], {"NAME": "no"})], fields
    )
    got = read_shapefile(spark, d).collect()
    assert len(got) == 1 and got[0].attrs["NAME"].strip() == "ok"
