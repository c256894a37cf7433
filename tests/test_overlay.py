"""Polygon boolean overlay (st_union / st_intersection /
st_difference) — the true-clipping path the reference uses at
R/functions.R:406 (st_union of PLSS cells) and R/functions.R:431
(st_union(patched_geom, patch_geom)).

Closed-form rectangle identities + hypothesis property sweep for the
pure-Python kernel; Spark UDF + pipeline-dissolve tests for the
distributed wiring.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from utility_service_areas_spark.functions.geometry import (
    difference_polygons,
    intersection_polygons,
    make_valid,
    multipolygon_area,
    overlay,
    polygon_area,
    rect_polygon,
    union_all,
    union_polygons,
)

A = rect_polygon(0, 0, 2, 2)
B = rect_polygon(1, 1, 2, 2)  # overlaps A by 1


def approx(x, y, tol=1e-9):
    return abs(x - y) <= tol


# ------------------------------------------------------------ kernel


def test_union_intersection_difference_rects():
    assert approx(multipolygon_area(union_polygons(A, B)), 7.0)
    assert approx(multipolygon_area(intersection_polygons(A, B)), 1.0)
    assert approx(multipolygon_area(difference_polygons(A, B)), 3.0)
    assert approx(multipolygon_area(difference_polygons(B, A)), 3.0)


def test_union_disjoint_is_two_polygons():
    c = rect_polygon(10, 10, 1, 1)
    u = union_polygons(A, c)
    assert len(u) == 2
    assert approx(multipolygon_area(u), 5.0)
    assert intersection_polygons(A, c) == []


def test_union_shared_edge_dissolves():
    d = rect_polygon(2, 0, 2, 2)  # touches A along x=2
    u = union_polygons(A, d)
    assert len(u) == 1  # one merged polygon, no interior seam
    assert approx(multipolygon_area(u), 8.0)


def test_containment_and_hole():
    inner = rect_polygon(0.5, 0.5, 1, 1)
    assert approx(multipolygon_area(union_polygons(A, inner)), 4.0)
    assert approx(multipolygon_area(intersection_polygons(A, inner)), 1.0)
    donut = difference_polygons(A, inner)
    assert len(donut) == 1 and len(donut[0]) == 2  # outer ring + hole
    assert approx(multipolygon_area(donut), 3.0)
    # union of the donut with a rect inside its hole stays disjoint
    plug = rect_polygon(0.7, 0.7, 0.2, 0.2)
    assert approx(multipolygon_area(overlay(donut, [plug], "union")), 3.04)


def test_self_identities():
    assert approx(multipolygon_area(union_polygons(A, A)), 4.0)
    assert approx(multipolygon_area(intersection_polygons(A, A)), 4.0)
    assert multipolygon_area(difference_polygons(A, A)) == 0


def test_triangles_inclusion_exclusion():
    t1 = make_valid([[[0, 0], [4, 0], [0, 4], [0, 0]]])
    t2 = make_valid([[[1, 1], [5, 1], [5, 5], [1, 1]]])
    ua = multipolygon_area(union_polygons(t1, t2))
    ia = multipolygon_area(intersection_polygons(t1, t2))
    assert approx(ua + ia, polygon_area(t1) + polygon_area(t2), 1e-9)
    assert ia > 0  # they genuinely overlap


def test_union_all_fold():
    d = rect_polygon(2, 0, 2, 2)
    c = rect_polygon(10, 10, 1, 1)
    # A∪B=7, D adds 4 minus 1 overlap with B, C adds 1 → 11
    assert approx(multipolygon_area(union_all([A, B, c, d])), 11.0)
    assert union_all([]) == []
    assert approx(multipolygon_area(union_all([A])), 4.0)


_coord = st.integers(min_value=0, max_value=20)
_size = st.integers(min_value=1, max_value=10)


@settings(max_examples=60, deadline=None)
@given(ax=_coord, ay=_coord, aw=_size, ah=_size, bx=_coord, by=_coord, bw=_size, bh=_size)
def test_rect_overlay_matches_closed_form(ax, ay, aw, ah, bx, by, bw, bh):
    ra, rb = rect_polygon(ax, ay, aw, ah), rect_polygon(bx, by, bw, bh)
    ov = max(0, min(ax + aw, bx + bw) - max(ax, bx)) * max(
        0, min(ay + ah, by + bh) - max(ay, by)
    )
    assert approx(multipolygon_area(intersection_polygons(ra, rb)), ov, 1e-6)
    assert approx(
        multipolygon_area(union_polygons(ra, rb)), aw * ah + bw * bh - ov, 1e-6
    )
    assert approx(multipolygon_area(difference_polygons(ra, rb)), aw * ah - ov, 1e-6)


# ------------------------------------------------------------- Spark


def test_spark_union_intersection_area_udfs(spark):
    from utility_service_areas_spark.functions.geometry import (
        st_intersection_area,
        st_union_area,
    )

    df = spark.createDataFrame(
        [(1, A, B), (2, A, rect_polygon(10, 10, 1, 1))], ["id", "ga", "gb"]
    )
    rows = {
        r.id: r
        for r in df.select(
            "id",
            st_union_area("ga", "gb").alias("u"),
            st_intersection_area("ga", "gb").alias("i"),
        ).collect()
    }
    assert approx(rows[1].u, 7.0) and approx(rows[1].i, 1.0)
    assert approx(rows[2].u, 5.0) and approx(rows[2].i, 0.0)


def test_spark_union_multi_dissolves(spark):
    from utility_service_areas_spark.functions.geometry import st_union_multi

    df = spark.createDataFrame([(1, [A, B, rect_polygon(2, 0, 2, 2)])], ["id", "mp"])
    out = df.select(st_union_multi("mp").alias("u")).collect()[0].u
    assert approx(sum(polygon_area(list(p)) for p in out), 10.0)  # 7 + (4-1)


KML_TMPL = """<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
<Placemark><name>{name}</name><description></description>
<Polygon><outerBoundaryIs><LinearRing><coordinates>{coords}</coordinates>
</LinearRing></outerBoundaryIs></Polygon></Placemark>
</Document></kml>
"""


def _rect_coords(x0, y0, w, h):
    return f"{x0},{y0},0 {x0+w},{y0},0 {x0+w},{y0+h},0 {x0},{y0+h},0 {x0},{y0},0"


@pytest.fixture()
def overlap_kml_dir(tmp_path):
    d = tmp_path / "kml"
    d.mkdir()
    (d / "200-servicearea.kml").write_text(
        KML_TMPL.format(name="Certificate No. 200", coords=_rect_coords(0, 0, 4, 4))
    )
    (d / "201-servicearea.kml").write_text(
        KML_TMPL.format(name="Certificate No. 201", coords=_rect_coords(2, 0, 4, 4))
    )
    return str(d)


def test_pipeline_dissolve_on_overlapping_acquisition(spark, overlap_kml_dir):
    from utility_service_areas_spark.plans.service_areas import build_service_areas
    from utility_service_areas_spark.sources.kml import read_kml

    cert_schema = StructType(
        [
            StructField("certificate_number", DoubleType()),
            StructField("entity", StringType()),
            StructField("certificate_name", StringType()),
            StructField("certificate_status", StringType()),
            StructField("cpcn_url", StringType()),
            StructField("kml_update_date", DateType()),
        ]
    )
    certs = spark.createDataFrame(
        [
            (200.0, "Acq", "Acquirer Co", "Active", "http://rca/200", dt.date(2020, 1, 1)),
            (201.0, "Old", "Absorbed Co", "Active", "http://rca/201", dt.date(2020, 1, 1)),
        ],
        cert_schema,
    )
    chron = spark.createDataFrame(
        [(200.0, "U-00-1", "1", "1/1/2000", "Original Certificate", "")],
        ["certificate_number", "docket_number", "order_id", "order_date", "order_type", "comment"],
    )
    common = dict(
        certificates=certs,
        chronology=chron,
        operator_ids=[],
        inactive_ids=[],
        merge_patches=[(200, 201)],
    )
    kml = read_kml(spark, overlap_kml_dir)
    # concat path double-counts the 8-unit overlap: 16 + 16 = 32
    concat = build_service_areas(kml, assume_disjoint=True, **common).collect()
    (r,) = concat
    assert approx(sum(polygon_area(list(p)) for p in r.geometry), 32.0)
    # dissolve path unions it away: area 24, one merged polygon
    dissolved = build_service_areas(kml, assume_disjoint=False, **common).collect()
    (r,) = dissolved
    assert len(r.geometry) == 1
    assert approx(sum(polygon_area(list(p)) for p in r.geometry), 24.0)


@settings(max_examples=40, deadline=None)
@given(
    rects=st.lists(
        st.tuples(
            st.integers(0, 10), st.integers(0, 10),
            st.integers(1, 6), st.integers(1, 6),
        ),
        min_size=1,
        max_size=5,
    )
)
def test_union_fold_matches_raster_count(rects):
    """Integer-coordinate rects: union area == number of unit cells
    whose center lies in ≥1 rect (exact, no tolerance). Independent
    raster oracle for arbitrary N-way folds — nesting, chains,
    duplicates, full containment."""
    cells = 0
    for cx in range(17):
        for cy in range(17):
            x, y = cx + 0.5, cy + 0.5
            if any(x0 < x < x0 + w and y0 < y < y0 + h for x0, y0, w, h in rects):
                cells += 1
    got = multipolygon_area(union_all([rect_polygon(*r) for r in rects]))
    assert abs(got - cells) <= 1e-6


@settings(max_examples=40, deadline=None)
@given(
    ax=_coord, ay=_coord, aw=_size, ah=_size,
    bx=_coord, by=_coord, bw=_size, bh=_size,
    sub=st.integers(0, 3),
    scale=st.sampled_from([0.25, 1.0, 1e3, 1e6]),
)
def test_rect_overlay_fractional_and_large_magnitude(
    ax, ay, aw, ah, bx, by, bw, bh, sub, scale
):
    """Non-integer offsets and coordinate magnitudes from 0.25 to 1e6:
    the overlay tolerances are scale-relative, so the closed form must
    hold at any magnitude (catches absolute-epsilon bugs)."""
    f = sub * 0.25
    ra = rect_polygon((ax + f) * scale, (ay + f) * scale, aw * scale, ah * scale)
    rb = rect_polygon(bx * scale, by * scale, bw * scale, bh * scale)
    ov = max(0.0, min((ax + f + aw) * scale, (bx + bw) * scale) - max((ax + f) * scale, bx * scale)) * max(
        0.0, min((ay + f + ah) * scale, (by + bh) * scale) - max((ay + f) * scale, by * scale)
    )
    area_a, area_b = aw * ah * scale * scale, bw * bh * scale * scale
    tol = 1e-6 * scale * scale
    assert abs(multipolygon_area(intersection_polygons(ra, rb)) - ov) <= tol
    assert abs(multipolygon_area(union_polygons(ra, rb)) - (area_a + area_b - ov)) <= tol
