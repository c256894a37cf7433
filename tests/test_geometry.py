"""Pure-Python geometry library tests: hand-computed fixtures for
irregular shapes (the oracle gate only exercises rectangles) plus
hypothesis property tests.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from utility_service_areas_spark.functions.geometry import (
    make_valid,
    parse_plss_code,
    plss_cell_rect,
    point_in_polygon,
    polygon_area,
    polygon_bbox,
    polygon_centroid,
    polygons_intersect,
    rect_polygon,
    segments_intersect,
)

TRIANGLE = [[[0.0, 0.0], [4.0, 0.0], [0.0, 3.0], [0.0, 0.0]]]
L_SHAPE = [
    [[0.0, 0.0], [4.0, 0.0], [4.0, 1.0], [1.0, 1.0], [1.0, 3.0], [0.0, 3.0], [0.0, 0.0]]
]
WITH_HOLE = [
    [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]],
    [[2.0, 2.0], [2.0, 4.0], [4.0, 4.0], [4.0, 2.0], [2.0, 2.0]],  # CW hole
]


def test_area_hand_computed():
    assert polygon_area(TRIANGLE) == 6.0
    assert polygon_area(L_SHAPE) == 6.0  # 4x1 + 1x2
    assert polygon_area(WITH_HOLE) == 100.0 - 4.0
    assert polygon_area(rect_polygon(2, 3, 5, 7)) == 35.0


def test_centroid_triangle():
    cx, cy = polygon_centroid(TRIANGLE)
    assert abs(cx - 4 / 3) < 1e-12 and abs(cy - 1.0) < 1e-12


def test_point_in_polygon_concave_and_hole():
    assert point_in_polygon(0.5, 2.0, L_SHAPE)  # in the vertical arm
    assert not point_in_polygon(2.0, 2.0, L_SHAPE)  # in the notch
    assert point_in_polygon(5.0, 5.0, WITH_HOLE)
    assert not point_in_polygon(3.0, 3.0, WITH_HOLE)  # inside the hole
    assert not point_in_polygon(11.0, 5.0, WITH_HOLE)


def test_segments_intersect_cases():
    assert segments_intersect((0, 0), (2, 2), (0, 2), (2, 0))  # cross
    assert segments_intersect((0, 0), (2, 0), (1, 0), (3, 0))  # collinear overlap
    assert segments_intersect((0, 0), (1, 1), (1, 1), (2, 0))  # endpoint touch
    assert not segments_intersect((0, 0), (1, 0), (0, 1), (1, 1))  # parallel


def test_polygons_intersect_cases():
    a = rect_polygon(0, 0, 4, 4)
    assert polygons_intersect(a, rect_polygon(2, 2, 4, 4))  # overlap
    assert polygons_intersect(a, rect_polygon(4, 0, 2, 2))  # edge touch
    assert polygons_intersect(a, rect_polygon(1, 1, 1, 1))  # containment
    assert not polygons_intersect(a, rect_polygon(10, 10, 2, 2))  # disjoint


def test_make_valid_repairs_and_is_idempotent():
    broken = [[[0.0, 0.0], [0.0, 0.0], [4.0, 0.0], [4.0, 3.0], [0.0, 3.0]]]
    fixed = make_valid(broken)
    assert len(fixed) == 1 and len(fixed[0]) == 5
    assert fixed[0][0] == fixed[0][-1]  # closed
    assert polygon_area(fixed) == 12.0
    assert make_valid(fixed) == fixed  # idempotent
    # CW outer ring gets re-oriented CCW
    cw = [[[0.0, 0.0], [0.0, 3.0], [4.0, 3.0], [4.0, 0.0], [0.0, 0.0]]]
    assert make_valid(cw)[0][1] == [4.0, 0.0]
    # degenerate ring (collinear) dropped
    assert make_valid([[[0.0, 0.0], [1.0, 0.0], [2.0, 0.0]]]) == []


def test_plss_cell_layout():
    assert parse_plss_code("S009N067W05") == ("S", 9, "N", 67, "W", 5)
    # Section 1 = NE corner of the township: row 0, easternmost column.
    ne = plss_cell_rect("S001N001W01")
    assert polygon_bbox(ne) == (-1.0, 5.0, 0.0, 6.0)
    # Section 6 = NW corner (row 0 runs east→west from sec 1).
    nw = plss_cell_rect("S001N001W06")
    assert polygon_bbox(nw) == (-6.0, 5.0, -5.0, 6.0)
    # Section 7 sits directly below section 6 (boustrophedon turn).
    s7 = plss_cell_rect("S001N001W07")
    assert polygon_bbox(s7) == (-6.0, 4.0, -5.0, 5.0)
    # Section 36 = SE corner.
    se = plss_cell_rect("S001N001W36")
    assert polygon_bbox(se) == (-1.0, 0.0, 0.0, 1.0)
    assert polygon_area(ne) == 1.0


@given(
    x0=st.integers(-100, 100),
    y0=st.integers(-100, 100),
    w=st.integers(1, 50),
    h=st.integers(1, 50),
)
@settings(max_examples=50, deadline=None)
def test_rect_area_property(x0, y0, w, h):
    r = rect_polygon(float(x0), float(y0), float(w), float(h))
    assert polygon_area(r) == float(w * h)
    assert polygon_bbox(r) == (x0, y0, x0 + w, y0 + h)
    cx, cy = polygon_centroid(r)
    assert abs(cx - (x0 + w / 2)) < 1e-9 and abs(cy - (y0 + h / 2)) < 1e-9


@given(
    x0=st.integers(0, 20),
    y0=st.integers(0, 20),
    w=st.integers(2, 10),
    h=st.integers(2, 10),
    fx=st.floats(0.05, 0.95),
    fy=st.floats(0.05, 0.95),
)
@settings(max_examples=50, deadline=None)
def test_pip_interior_exterior_property(x0, y0, w, h, fx, fy):
    r = rect_polygon(float(x0), float(y0), float(w), float(h))
    assert point_in_polygon(x0 + fx * w, y0 + fy * h, r)
    assert not point_in_polygon(x0 - 1.0, y0 + fy * h, r)
    assert not point_in_polygon(x0 + fx * w, y0 + h + 1.0, r)


# ------------------------------------------------------- st_simplify


def test_simplify_removes_collinear_only_at_tol_zero():
    from utility_service_areas_spark.functions.geometry import (
        polygon_area,
        simplify_polygon,
    )

    # L-shape with collinear midpoints injected on every edge
    ring = [
        [0, 0], [2, 0], [4, 0], [4, 1.5], [4, 3], [3, 3],
        [2, 3], [2, 4.5], [2, 6], [1, 6], [0, 6], [0, 3], [0, 0],
    ]
    out = simplify_polygon([ring], 0.0)
    assert len(out) == 1
    # only the 6 true corners + closing vertex survive
    assert len(out[0]) == 7
    assert polygon_area(out[0:1]) == polygon_area([ring])


def test_simplify_tolerance_removes_jitter():
    import math

    from utility_service_areas_spark.functions.geometry import (
        polygon_area,
        simplify_polygon,
    )

    # square with small zigzag jitter along the bottom edge
    jitter = [[x / 10, 0.02 * (1 if (x % 2) else -1)] for x in range(1, 100)]
    ring = [[0, 0], *jitter, [10, 0], [10, 10], [0, 10], [0, 0]]
    out = simplify_polygon([ring], 0.05)
    assert len(out[0]) <= 6  # jitter gone
    assert math.isclose(polygon_area(out), 100.0, rel_tol=0.01)


def test_simplify_idempotent():
    from utility_service_areas_spark.functions.geometry import simplify_polygon

    ring = [[0, 0], [5, 0.3], [10, 0], [9, 5], [10, 10], [4, 9.5], [0, 10], [0, 0]]
    once = simplify_polygon([ring], 0.5)
    twice = simplify_polygon(once, 0.5)
    assert once == twice


def test_simplify_degenerate_ring_drops():
    from utility_service_areas_spark.functions.geometry import simplify_polygon

    # all points collinear → ring collapses, polygon becomes empty
    assert simplify_polygon([[[0, 0], [1, 0], [2, 0], [0, 0]]], 0.0) == []


@given(
    st.lists(
        st.tuples(
            st.floats(-50, 50).map(lambda v: round(v, 3)),
            st.floats(-50, 50).map(lambda v: round(v, 3)),
        ),
        min_size=3,
        max_size=12,
    ),
    st.lists(
        st.tuples(st.floats(-60, 60), st.floats(-60, 60)),
        min_size=1,
        max_size=40,
    ),
)
@settings(max_examples=60, deadline=None)
def test_flat_mask_bit_identical_to_scalar(verts, pts):
    """The spatial join's batched kernel (_flat_rings_mask over the
    flat vertex encoding) must agree with the scalar point_in_ring on
    ARBITRARY (even self-intersecting) closed rings — bit-identical
    ray cast, not approximately equal."""
    import numpy as np

    from utility_service_areas_spark.functions.geometry import (
        _flat_rings_mask,
        point_in_polygon,
    )

    ring = [list(p) for p in verts] + [list(verts[0])]  # close it
    poly = [ring]
    flat = np.asarray([c for p in ring for c in p])
    n_verts = np.asarray([len(ring)])
    xs = np.asarray([p[0] for p in pts])
    ys = np.asarray([p[1] for p in pts])
    got = _flat_rings_mask(xs, ys, flat, n_verts)
    want = [point_in_polygon(x, y, poly) for x, y in pts]
    assert list(got) == want
