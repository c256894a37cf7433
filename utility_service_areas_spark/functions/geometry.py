"""Pure-Python planar geometry library + Arrow-batched Spark UDFs.

The execution environment has no shapely/GEOS, so this module supplies
the `sf`-equivalent primitives the reference pipeline needs
(st_area/st_bbox/centroid/st_make_valid/point-in-polygon, and
polygons_intersect, the overlap test that
operators/geo.py:polygon_overlap_pairs runs; reference
R/functions.R:182,184,406,431,468,471) over a GeoJSON-style
representation:

    polygon  = list[ring],  ring = list[[x, y]]   (first ring = outer)
    Spark type: array<array<array<double>>>

Scale posture: these run as pandas UDFs (Arrow batch transfer, one
Python call per batch, not per row) and are always preceded by a
JVM-side bbox prefilter so the Python inner loop only sees candidate
pairs, never the raw cross product.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    StructField,
    StructType,
)

Ring = list  # list[[x, y]]
Polygon = list  # list[Ring]

POLYGON_DTYPE = ArrayType(ArrayType(ArrayType(DoubleType())))
BBOX_DTYPE = StructType(
    [
        StructField("xmin", DoubleType()),
        StructField("ymin", DoubleType()),
        StructField("xmax", DoubleType()),
        StructField("ymax", DoubleType()),
    ]
)


# ---------------------------------------------------------------- core


def ring_area_signed(ring: Ring) -> float:
    """Shoelace formula; positive for counter-clockwise rings."""
    s = 0.0
    n = len(ring)
    for i in range(n - 1):
        x1, y1 = ring[i][0], ring[i][1]
        x2, y2 = ring[i + 1][0], ring[i + 1][1]
        s += x1 * y2 - x2 * y1
    return s / 2.0


def polygon_area(poly: Polygon) -> float:
    """|outer| minus hole areas (st_area semantics, planar)."""
    if poly is None or len(poly) == 0:
        return 0.0
    area = abs(ring_area_signed(poly[0]))
    for hole in poly[1:]:
        area -= abs(ring_area_signed(hole))
    return area


def polygon_centroid(poly: Polygon) -> tuple[float, float]:
    """Area-weighted centroid of the outer ring."""
    ring = poly[0]
    a = ring_area_signed(ring)
    if a == 0:
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        return sum(xs) / len(xs), sum(ys) / len(ys)
    cx = cy = 0.0
    for i in range(len(ring) - 1):
        x1, y1 = ring[i][0], ring[i][1]
        x2, y2 = ring[i + 1][0], ring[i + 1][1]
        cross = x1 * y2 - x2 * y1
        cx += (x1 + x2) * cross
        cy += (y1 + y2) * cross
    return cx / (6 * a), cy / (6 * a)


def polygon_bbox(poly: Polygon) -> tuple[float, float, float, float]:
    xs = [p[0] for ring in poly for p in ring]
    ys = [p[1] for ring in poly for p in ring]
    return min(xs), min(ys), max(xs), max(ys)


def point_in_ring(x: float, y: float, ring: Ring) -> bool:
    """Ray casting; boundary behavior is half-open (callers that need
    exact edge semantics should prefilter with bbox epsilon)."""
    inside = False
    n = len(ring)
    for i in range(n - 1):
        x1, y1 = ring[i][0], ring[i][1]
        x2, y2 = ring[i + 1][0], ring[i + 1][1]
        if (y1 > y) != (y2 > y):
            x_cross = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
            if x < x_cross:
                inside = not inside
    return inside


def point_in_polygon(x: float, y: float, poly: Polygon) -> bool:
    if poly is None or len(poly) == 0 or not point_in_ring(x, y, poly[0]):
        return False
    return not any(point_in_ring(x, y, hole) for hole in poly[1:])


def _flat_rings_mask(xs, ys, flat, n_verts):
    """Vectorized point_in_polygon over a FLAT polygon encoding:
    ``flat`` is every vertex coordinate ([x0,y0,x1,y1,...], rings
    concatenated) and ``n_verts`` the per-ring vertex counts. One
    numpy pass per polygon EDGE over the whole batch of points (the
    hot shape in the spatial join's verify stage). Bit-identical to
    the scalar point_in_ring — same half-open ray cast, same IEEE op
    order in the x-crossing expression; y1 == y2 edges are skipped
    exactly as the scalar's (y1>y)!=(y2>y) test does."""
    if flat is None or n_verts is None or len(n_verts) == 0:
        return np.zeros(len(xs), dtype=bool)
    pts = np.asarray(flat, dtype=np.float64).reshape(-1, 2)
    out = None
    start = 0
    for nv in n_verts:
        ring = pts[start : start + int(nv)]
        start += int(nv)
        inside = np.zeros(len(xs), dtype=bool)
        for i in range(len(ring) - 1):
            x1, y1 = ring[i, 0], ring[i, 1]
            x2, y2 = ring[i + 1, 0], ring[i + 1, 1]
            if y1 == y2:
                continue
            cross = (y1 > ys) != (y2 > ys)
            x_cross = x1 + (ys - y1) * (x2 - x1) / (y2 - y1)
            inside ^= cross & (xs < x_cross)
        if out is None:
            out = inside  # outer ring
        else:
            out &= ~inside  # hole
    return out if out is not None else np.zeros(len(xs), dtype=bool)


@F.pandas_udf(BooleanType())
def _st_contains_point_grouped_raw(
    ghash: pd.Series, flat: pd.Series, n_verts: pd.Series, xs: pd.Series, ys: pd.Series
) -> pd.Series:
    """Arrow-batched verify for the spatial join: candidate rows arrive
    with their polygon's FLAT vertex encoding attached (single-level
    arrays — cheap Arrow conversion, no nested-object churn); within
    each batch the rows are grouped by the JVM-computed geometry hash
    so the numpy ray cast runs ONCE per distinct polygon over all its
    points — vectorized across rows, never per row."""
    out = np.zeros(len(ghash), dtype=bool)
    x = xs.to_numpy(dtype=np.float64, na_value=np.nan)
    y = ys.to_numpy(dtype=np.float64, na_value=np.nan)
    codes, _ = pd.factorize(ghash, use_na_sentinel=False)
    for code in np.unique(codes):
        pos = np.nonzero(codes == code)[0]
        first = pos[0]
        out[pos] = _flat_rings_mask(x[pos], y[pos], flat.iloc[first], n_verts.iloc[first])
    return pd.Series(out)


def flat_geometry_cols(geom) -> tuple[F.Column, F.Column, F.Column]:
    """JVM-side flat encoding of a polygon column, for the grouped
    verify: (hash, flat coords, per-ring vertex counts). Compute these
    on the POLYGON side *below* the join so the per-polygon flatten
    runs once per polygon row, not once per candidate."""
    g = _c(geom)
    return (
        F.xxhash64(g),
        F.flatten(F.flatten(g)),
        F.transform(g, lambda r: F.size(r)),
    )


def st_contains_point_grouped(ghash, flat, n_verts, x, y) -> F.Column:
    return _st_contains_point_grouped_raw(
        _c(ghash), _c(flat), _c(n_verts), _c(x), _c(y)
    )


def _orient(ax, ay, bx, by, cx, cy) -> int:
    v = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    return 0 if v == 0 else (1 if v > 0 else -1)


def _on_seg(ax, ay, bx, by, px, py) -> bool:
    return min(ax, bx) <= px <= max(ax, bx) and min(ay, by) <= py <= max(ay, by)


def segments_intersect(p1, p2, p3, p4) -> bool:
    o1 = _orient(*p1, *p2, *p3)
    o2 = _orient(*p1, *p2, *p4)
    o3 = _orient(*p3, *p4, *p1)
    o4 = _orient(*p3, *p4, *p2)
    if o1 != o2 and o3 != o4:
        return True
    if o1 == 0 and _on_seg(*p1, *p2, *p3):
        return True
    if o2 == 0 and _on_seg(*p1, *p2, *p4):
        return True
    if o3 == 0 and _on_seg(*p3, *p4, *p1):
        return True
    return o4 == 0 and _on_seg(*p3, *p4, *p2)


def polygons_intersect(a: Polygon, b: Polygon) -> bool:
    """Intersection test for simple polygons: bbox reject, then edge
    crossings, then mutual containment."""
    ax0, ay0, ax1, ay1 = polygon_bbox(a)
    bx0, by0, bx1, by1 = polygon_bbox(b)
    if ax1 < bx0 or bx1 < ax0 or ay1 < by0 or by1 < ay0:
        return False
    ra, rb = a[0], b[0]
    for i in range(len(ra) - 1):
        for j in range(len(rb) - 1):
            if segments_intersect(
                (ra[i][0], ra[i][1]),
                (ra[i + 1][0], ra[i + 1][1]),
                (rb[j][0], rb[j][1]),
                (rb[j + 1][0], rb[j + 1][1]),
            ):
                return True
    return point_in_polygon(ra[0][0], ra[0][1], b) or point_in_polygon(
        rb[0][0], rb[0][1], a
    )


def make_valid(poly: Polygon) -> Polygon:
    """st_make_valid-lite (reference R/functions.R:182,468): drop
    consecutive duplicate vertices, close unclosed rings, drop
    degenerate rings, orient outer CCW and holes CW. Idempotent.
    """
    fixed: Polygon = []
    for idx, ring in enumerate(poly):
        pts = []
        for p in ring:
            if len(pts) == 0 or (p[0], p[1]) != (pts[-1][0], pts[-1][1]):
                pts.append([float(p[0]), float(p[1])])
        if len(pts) >= 2 and (pts[0][0], pts[0][1]) == (pts[-1][0], pts[-1][1]):
            pts.pop()
        if len(pts) < 3:
            continue
        pts.append([pts[0][0], pts[0][1]])  # close
        signed = ring_area_signed(pts)
        if signed == 0:
            continue
        want_ccw = idx == 0
        if (signed > 0) != want_ccw:
            pts = pts[::-1]
        fixed.append(pts)
    return fixed


def _perp_dist(px, py, ax, ay, bx, by) -> float:
    """Distance from point p to segment a-b (endpoint distance if the
    projection falls outside the segment)."""
    dx, dy = bx - ax, by - ay
    d2 = dx * dx + dy * dy
    if d2 == 0.0:
        return math.hypot(px - ax, py - ay)
    t = ((px - ax) * dx + (py - ay) * dy) / d2
    t = 0.0 if t < 0.0 else (1.0 if t > 1.0 else t)
    return math.hypot(px - (ax + t * dx), py - (ay + t * dy))


def _dp_chain(pts: list, lo: int, hi: int, tol: float, keep: set) -> None:
    """Douglas-Peucker over the open chain pts[lo..hi] (iterative —
    ring sizes are unbounded in principle)."""
    stack = [(lo, hi)]
    while stack:
        i, j = stack.pop()
        if j - i < 2:
            continue
        ax, ay = pts[i]
        bx, by = pts[j]
        best, best_d = -1, -1.0
        for k in range(i + 1, j):
            d = _perp_dist(pts[k][0], pts[k][1], ax, ay, bx, by)
            if d > best_d:
                best, best_d = k, d
        if best_d > tol:
            keep.add(best)
            stack.append((i, best))
            stack.append((best, j))


def simplify_ring(ring: Ring, tol: float) -> Ring | None:
    """st_simplify (Douglas-Peucker) on a closed ring: split at the
    first vertex and the vertex farthest from it, simplify both chains,
    re-close. tol=0 removes exactly the collinear/duplicate vertices.
    The two anchor vertices always survive (standard ring-DP caveat);
    returns None if the ring degenerates below a triangle."""
    pts = [(float(p[0]), float(p[1])) for p in ring]
    if len(pts) >= 2 and pts[0] == pts[-1]:
        pts = pts[:-1]
    ded = [p for i, p in enumerate(pts) if i == 0 or p != pts[i - 1]]
    if len(ded) < 3:
        return None
    far = max(
        range(1, len(ded)),
        key=lambda i: (ded[i][0] - ded[0][0]) ** 2 + (ded[i][1] - ded[0][1]) ** 2,
    )
    keep: set[int] = {0, far}
    _dp_chain(ded, 0, far, tol, keep)
    closed = ded + [ded[0]]
    _dp_chain(closed, far, len(closed) - 1, tol, keep)
    out = [[ded[i][0], ded[i][1]] for i in sorted(keep)]
    if len(out) < 3:
        return None
    out.append([out[0][0], out[0][1]])
    return out


def simplify_polygon(poly: Polygon, tol: float) -> Polygon:
    """Per-ring Douglas-Peucker; degenerate rings drop (like
    st_simplify with preserveTopology=FALSE for collapsed rings)."""
    out: Polygon = []
    for ring in poly:
        s = simplify_ring(ring, tol)
        if s is not None and abs(ring_area_signed(s)) > 0:
            out.append(s)
    return out


def rect_polygon(x0: float, y0: float, w: float, h: float) -> Polygon:
    """Axis-aligned rectangle as a closed CCW polygon."""
    return [
        [
            [x0, y0],
            [x0 + w, y0],
            [x0 + w, y0 + h],
            [x0, y0 + h],
            [x0, y0],
        ]
    ]


# ------------------------------------------------- boolean ops (overlay)
#
# Real polygon clipping (st_union / st_intersection / st_difference,
# parity: R/functions.R:406 `st_union` of PLSS cells and
# R/functions.R:431 `st_union(patched_geom, patch_geom)`), for
# genuinely OVERLAPPING inputs — not just the grid-aligned dissolve.
#
# Method: planar overlay by edge fragmentation + side-point
# classification. Every boundary edge of A is split at every
# intersection with B's boundary (including collinear overlaps) and
# vice versa; a fragment lies on the result boundary iff the result
# region covers exactly one side of it (sampled a hair off the
# midpoint), oriented so the result interior is on the left; fragments
# are then chained into rings by a leftmost-turn face walk. Unlike
# textbook Greiner-Hormann this has no special-cased vertex
# degeneracies: shared edges, T-touches and corner-touches all fall
# out of the same membership rule. O(E_a * E_b) per pair — fine,
# because the Spark operators only ever invoke it on bbox-prefiltered
# candidate pairs / small per-group geometry sets, never the corpus
# cross product.

MultiPolygon = list  # list[Polygon]


def _overlay_scale(*mps: MultiPolygon) -> float:
    m = 1.0
    for mp in mps:
        for poly in mp:
            for ring in poly:
                for pt in ring:
                    m = max(m, abs(pt[0]), abs(pt[1]))
    return m


def _edges_of(mp: MultiPolygon) -> list:
    out = []
    for poly in mp:
        for ring in poly:
            for i in range(len(ring) - 1):
                p = (float(ring[i][0]), float(ring[i][1]))
                q = (float(ring[i + 1][0]), float(ring[i + 1][1]))
                if p != q:
                    out.append((p, q))
    return out


def _seg_param(p, q, r) -> float:
    """Param of collinear point r along p→q (dominant-axis projection)."""
    dx, dy = q[0] - p[0], q[1] - p[1]
    if abs(dx) >= abs(dy):
        return (r[0] - p[0]) / dx
    return (r[1] - p[1]) / dy


def _edge_splits(e, other_edges, tol: float) -> list:
    """(t, point) split positions on edge e caused by other_edges."""
    p, q = e
    d1x, d1y = q[0] - p[0], q[1] - p[1]
    len1 = (d1x * d1x + d1y * d1y) ** 0.5
    exlo, exhi = min(p[0], q[0]) - tol, max(p[0], q[0]) + tol
    eylo, eyhi = min(p[1], q[1]) - tol, max(p[1], q[1]) + tol
    out = []
    for r, s in other_edges:
        if (
            max(r[0], s[0]) < exlo
            or min(r[0], s[0]) > exhi
            or max(r[1], s[1]) < eylo
            or min(r[1], s[1]) > eyhi
        ):
            continue
        d2x, d2y = s[0] - r[0], s[1] - r[1]
        len2 = (d2x * d2x + d2y * d2y) ** 0.5
        denom = d1x * d2y - d1y * d2x
        if abs(denom) > 1e-12 * len1 * len2:
            t = ((r[0] - p[0]) * d2y - (r[1] - p[1]) * d2x) / denom
            u = ((r[0] - p[0]) * d1y - (r[1] - p[1]) * d1x) / denom
            if -1e-12 <= t <= 1 + 1e-12 and -1e-12 <= u <= 1 + 1e-12:
                out.append((t, (p[0] + t * d1x, p[1] + t * d1y)))
        else:
            # parallel — collinear iff r is on e's support line
            if abs((r[0] - p[0]) * d1y - (r[1] - p[1]) * d1x) <= tol * len1:
                for c in (r, s):
                    t = _seg_param(p, q, c)
                    if 1e-12 < t < 1 - 1e-12:
                        out.append((t, c))
    return out


def _fragment(edges, other_edges, tol: float) -> list:
    """Split each directed edge at its intersections with other_edges."""
    frags = []
    for e in edges:
        p, q = e
        pts = [(0.0, p), (1.0, q)]
        pts.extend(_edge_splits(e, other_edges, tol))
        pts.sort(key=lambda tp: tp[0])
        prev_t, prev_p = pts[0]
        for t, pt in pts[1:]:
            if t - prev_t > 1e-12:
                frags.append((prev_p, pt))
                prev_t, prev_p = t, pt
    return frags


def _point_in_multi(x: float, y: float, mp: MultiPolygon) -> bool:
    return any(point_in_polygon(x, y, poly) for poly in mp)


_KEEP = {
    "union": lambda a, b: a or b,
    "intersection": lambda a, b: a and b,
    "difference": lambda a, b: a and not b,
}


def _snap(pt, tol: float):
    return (round(pt[0] / tol), round(pt[1] / tol))


def _turn(din, a, b) -> float:
    import math

    dout = (b[0] - a[0], b[1] - a[1])
    return math.atan2(
        din[0] * dout[1] - din[1] * dout[0], din[0] * dout[0] + din[1] * dout[1]
    )


def _chain_rings(kept: list, tol: float) -> list:
    """Directed fragments (result interior on left) → closed rings via
    leftmost-turn face walk. Kept fragments are Eulerian-balanced, so
    every walk closes."""
    from collections import defaultdict

    out_map = defaultdict(list)
    for i, (a, b) in enumerate(kept):
        out_map[_snap(a, tol)].append(i)
    used = [False] * len(kept)
    rings = []
    for start in range(len(kept)):
        if used[start]:
            continue
        used[start] = True
        a0, _ = kept[start]
        start_key = _snap(a0, tol)
        ring = [[a0[0], a0[1]]]
        cur = start
        for _ in range(len(kept) + 1):
            a, b = kept[cur]
            ring.append([b[0], b[1]])
            key = _snap(b, tol)
            if key == start_key:
                rings.append(ring)
                break
            cands = [j for j in out_map[key] if not used[j]]
            if not cands:
                break  # dangling fragment (numerical orphan) — drop
            din = (b[0] - a[0], b[1] - a[1])
            nxt = max(cands, key=lambda j: _turn(din, *kept[j]))
            used[nxt] = True
            cur = nxt
    return rings


def _rings_to_multipolygon(rings: list, scale: float) -> MultiPolygon:
    outers, holes = [], []
    for ring in rings:
        if len(ring) < 4:
            continue
        sa = ring_area_signed(ring)
        if abs(sa) < 1e-12 * scale * scale:
            continue
        (outers if sa > 0 else holes).append(ring)
    polys = [[o] for o in outers]
    for h in holes:
        hx, hy = h[0][0], h[0][1]
        best, best_area = None, None
        for i, o in enumerate(outers):
            if point_in_ring(hx, hy, o):
                a = abs(ring_area_signed(o))
                if best is None or a < best_area:
                    best, best_area = i, a
        if best is not None:
            polys[best].append(h)
    return polys


def overlay(ma: MultiPolygon, mb: MultiPolygon, op: str) -> MultiPolygon:
    """Boolean overlay of two multipolygons: 'union' | 'intersection'
    | 'difference'. Rings must be closed; outer CCW, holes CW
    (make_valid normalizes). Returns a MultiPolygon (possibly empty).
    """
    keep = _KEEP[op]
    scale = _overlay_scale(ma, mb)
    tol = 1e-9 * scale
    off = 1e-7 * scale
    ea, eb = _edges_of(ma), _edges_of(mb)
    kept, seen = [], set()
    for frags, mine in ((_fragment(ea, eb, tol), True), (_fragment(eb, ea, tol), False)):
        for a, b in frags:
            dx, dy = b[0] - a[0], b[1] - a[1]
            ln = (dx * dx + dy * dy) ** 0.5
            if ln <= tol:
                continue
            mx, my = (a[0] + b[0]) / 2, (a[1] + b[1]) / 2
            nx, ny = -dy / ln * off, dx / ln * off
            lpt, rpt = (mx + nx, my + ny), (mx - nx, my - ny)
            l_in = keep(_point_in_multi(*lpt, ma), _point_in_multi(*lpt, mb))
            r_in = keep(_point_in_multi(*rpt, ma), _point_in_multi(*rpt, mb))
            if l_in == r_in:
                continue  # both sides in (interior edge) or out (exterior)
            frag = (a, b) if l_in else (b, a)
            k = (_snap(frag[0], tol), _snap(frag[1], tol))
            if k in seen:
                continue  # shared collinear edge contributed by both inputs
            seen.add(k)
            kept.append(frag)
    return _rings_to_multipolygon(_chain_rings(kept, tol), scale)


def multipolygon_area(mp: MultiPolygon) -> float:
    return sum(polygon_area(p) for p in mp)


def union_all(polys: list) -> MultiPolygon:
    """st_union of N polygons: left fold of pairwise overlay. Intended
    for per-group geometry sets (a certificate's patches) inside
    applyInPandas — the distributed reduce happens in Spark, this is
    the per-group combiner."""
    mp: MultiPolygon = []
    for p in polys:
        if p is None or len(p) == 0:
            continue
        if mp:
            mp = overlay(mp, [p], "union")
        else:
            v = make_valid(p)
            if len(v):  # fully-degenerate polygon: contributes nothing
                mp = [v]
    return mp


# ------------------------------------------------------------- PLSS

# PLSS cell code, e.g. 'S009N067W05' (reference _targets.R:212-233):
# meridian letter, 3-digit township + N/S, 3-digit range + E/W,
# 2-digit section (1..36, boustrophedon from the NE corner).
# Planar model: the meridian origin is (0,0); townships are 6x6-mile
# squares; a section is the 1x1-mile cell inside.

MERIDIAN_OFFSETS = {"S": (0.0, 0.0), "K": (600.0, 0.0), "F": (0.0, 600.0), "U": (600.0, 600.0)}


def parse_plss_code(code: str) -> tuple[str, int, str, int, str, int]:
    m = code[0]
    twp = int(code[1:4])
    twp_dir = code[4]
    rng = int(code[5:8])
    rng_dir = code[8]
    sec = int(code[9:11])
    return m, twp, twp_dir, rng, rng_dir, sec


def plss_cell_rect(code: str) -> Polygon:
    """Section cell → 1x1-mile rectangle polygon in the planar model."""
    m, twp, twp_dir, rng, rng_dir, sec = parse_plss_code(code)
    mx, my = MERIDIAN_OFFSETS.get(m, (0.0, 0.0))
    ty = (twp - 1) * 6.0 if twp_dir == "N" else -twp * 6.0
    rx = (rng - 1) * 6.0 if rng_dir == "E" else -rng * 6.0
    # Section 1 is the NE corner; rows snake west-east (boustrophedon).
    row = (sec - 1) // 6  # 0 = north row
    pos = (sec - 1) % 6
    col = 5 - pos if row % 2 == 0 else pos  # from west edge
    x0 = mx + rx + col * 1.0
    y0 = my + ty + (5 - row) * 1.0
    return rect_polygon(x0, y0, 1.0, 1.0)


# --------------------------------------------------------- Spark UDFs
#
# Each public st_* is a thin expression wrapper around a pandas UDF.
# The wrapper (a) coalesces null geometry to an empty typed array and
# (b) masks the result back to null — because an Arrow batch whose
# nested-array column is ENTIRELY null crashes the Python worker in
# this pyspark/pyarrow combination (EOF before user code runs), and
# all-null partitions are routine at cluster scale (unmatched left
# joins). The raw UDFs therefore only ever see non-null (possibly
# empty) arrays; tests/test_empty_inputs.py pins the behavior.

MULTIPOLYGON_DTYPE = ArrayType(POLYGON_DTYPE)


# Built lazily: constructing a Column at module import would require an
# active SparkSession (same pitfall as DDL-string pandas_udf types).
def _sentinel_poly() -> F.Column:
    # NOT empty: the worker segfaults (pyspark arrow_to_pandas) on any
    # batch whose nested-array column is entirely null OR entirely
    # empty; mixed batches are fine. A degenerate 2-point ring is
    # harmless to every kernel (zero area, no crossings, make_valid
    # drops it) and the wrapper masks the result to null anyway.
    return F.array(F.array(F.array(F.lit(0.0), F.lit(0.0)), F.array(F.lit(0.0), F.lit(0.0))))


def _sentinel_multi() -> F.Column:
    # NOT empty: an all-empty depth-4 nested array batch ALSO crashes
    # the Arrow worker (depth-3 is fine). One degenerate single-point
    # polygon — every kernel drops it (make_valid: <3 points; area: 0)
    # and the wrapper masks the result to null anyway.
    return F.array(F.array(F.array(F.array(F.lit(0.0), F.lit(0.0)))))


def _c(col) -> F.Column:
    return F.col(col) if isinstance(col, str) else col


@F.pandas_udf(DoubleType())
def _st_area_raw(polys: pd.Series) -> pd.Series:
    return polys.map(lambda p: polygon_area(p) if p is not None and len(p) else None)


def st_area(poly) -> F.Column:
    poly = _c(poly)
    return F.when(poly.isNotNull(), _st_area_raw(F.coalesce(poly, _sentinel_poly())))


@F.pandas_udf(BBOX_DTYPE)
def _st_bbox_raw(polys: pd.Series) -> pd.DataFrame:
    out = {"xmin": [], "ymin": [], "xmax": [], "ymax": []}
    for p in polys:
        if p is None or not len(p):
            vals = (None, None, None, None)
        else:
            vals = polygon_bbox(p)
        for k, v in zip(out, vals):
            out[k].append(v)
    return pd.DataFrame(out)


def st_bbox(poly) -> F.Column:
    poly = _c(poly)
    return F.when(poly.isNotNull(), _st_bbox_raw(F.coalesce(poly, _sentinel_poly())))


@F.pandas_udf(
    StructType([StructField("cx", DoubleType()), StructField("cy", DoubleType())])
)
def _st_centroid_raw(polys: pd.Series) -> pd.DataFrame:
    cx, cy = [], []
    for p in polys:
        if p is None or not len(p):
            cx.append(None)
            cy.append(None)
        else:
            x, y = polygon_centroid(p)
            cx.append(x)
            cy.append(y)
    return pd.DataFrame({"cx": cx, "cy": cy})


def st_centroid(poly) -> F.Column:
    poly = _c(poly)
    return F.when(poly.isNotNull(), _st_centroid_raw(F.coalesce(poly, _sentinel_poly())))


@F.pandas_udf(POLYGON_DTYPE)
def _st_make_valid_raw(polys: pd.Series) -> pd.Series:
    return polys.map(lambda p: make_valid(p) if p is not None else None)


def st_make_valid(poly) -> F.Column:
    poly = _c(poly)
    return F.when(poly.isNotNull(), _st_make_valid_raw(F.coalesce(poly, _sentinel_poly())))


@F.pandas_udf(POLYGON_DTYPE)
def _st_simplify_raw(polys: pd.Series, tols: pd.Series) -> pd.Series:
    return pd.Series(
        [
            simplify_polygon(p, float(t)) if p is not None and len(p) else None
            for p, t in zip(polys, tols)
        ]
    )


def st_simplify(poly, tol) -> F.Column:
    """Douglas-Peucker vertex reduction (sf::st_simplify parity in
    spirit; the reference never simplifies, but any consumer rendering
    its GeoJSON at map zoom levels needs this)."""
    poly = _c(poly)
    tol = F.lit(tol) if not isinstance(tol, F.Column) else tol
    return F.when(
        poly.isNotNull(), _st_simplify_raw(F.coalesce(poly, _sentinel_poly()), tol)
    )


@F.pandas_udf(POLYGON_DTYPE)
def st_plss_cell(codes: pd.Series) -> pd.Series:
    # string input: the all-null Arrow crash only affects nested arrays
    return codes.map(plss_cell_rect)


@F.pandas_udf(DoubleType())
def _st_area_multi_raw(multis: pd.Series) -> pd.Series:
    """Area of a MultiPolygon (array of polygons) — st_combine + st_area."""
    return multis.map(
        lambda mp: sum(polygon_area(p) for p in mp) if mp is not None else None
    )


def st_area_multi(multi) -> F.Column:
    multi = _c(multi)
    # null AND empty inputs are replaced by the sentinel (an all-empty
    # depth-4 batch crashes the worker just like an all-null one); the
    # sentinel's area is 0.0, which is also the correct empty-multi
    # answer, and null inputs are masked back to null.
    safe_in = F.when(
        multi.isNull() | (F.size(multi) == 0), _sentinel_multi()
    ).otherwise(multi)
    return F.when(multi.isNotNull(), _st_area_multi_raw(safe_in))


@F.pandas_udf(DoubleType())
def _st_union_area_raw(a: pd.Series, b: pd.Series) -> pd.Series:
    """Area of the true union of two polygons (overlap counted once) —
    st_area(st_union(a, b)), parity R/functions.R:406,431."""
    return pd.Series(
        [
            multipolygon_area(overlay([pa], [pb], "union"))
            if pa is not None and len(pa) and pb is not None and len(pb)
            else None
            for pa, pb in zip(a, b)
        ]
    )


def st_union_area(a, b) -> F.Column:
    a, b = _c(a), _c(b)
    return F.when(
        a.isNotNull() & b.isNotNull(),
        _st_union_area_raw(F.coalesce(a, _sentinel_poly()), F.coalesce(b, _sentinel_poly())),
    )


@F.pandas_udf(DoubleType())
def _st_intersection_area_raw(a: pd.Series, b: pd.Series) -> pd.Series:
    """Area of the intersection of two polygons —
    st_area(st_intersection(a, b))."""
    return pd.Series(
        [
            multipolygon_area(overlay([pa], [pb], "intersection"))
            if pa is not None and len(pa) and pb is not None and len(pb)
            else None
            for pa, pb in zip(a, b)
        ]
    )


def st_intersection_area(a, b) -> F.Column:
    a, b = _c(a), _c(b)
    return F.when(
        a.isNotNull() & b.isNotNull(),
        _st_intersection_area_raw(
            F.coalesce(a, _sentinel_poly()), F.coalesce(b, _sentinel_poly())
        ),
    )


@F.pandas_udf(MULTIPOLYGON_DTYPE)
def _st_union_multi_raw(multis: pd.Series) -> pd.Series:
    """Dissolve a MultiPolygon: true st_union of its member polygons
    (overlaps merged, shared boundaries removed). The per-group reduce
    for combine-then-union plans (R/functions.R:406 `st_union` of PLSS
    cells; R/functions.R:431 acquisition-merge union)."""
    def dissolve(mp):
        if mp is None:
            return None
        res = union_all([list(p) for p in mp])
        # Never return an empty depth-4 value — an all-empty output
        # batch crashes the Arrow writer the same way an all-empty
        # input batch crashes the reader. The wrapper strips the
        # sentinel (a 1-point polygon no valid result can contain).
        return res if len(res) else [[[[0.0, 0.0]]]]

    return multis.map(dissolve)


def st_union_multi(multi) -> F.Column:
    multi = _c(multi)
    safe_in = F.when(
        multi.isNull() | (F.size(multi) == 0), _sentinel_multi()
    ).otherwise(multi)
    raw = _st_union_multi_raw(safe_in)
    # strip sentinel polygons (single ring of a single point) JVM-side;
    # valid rings are closed with >= 4 points, so this never removes
    # real geometry. Empty/degenerate inputs thus dissolve to [].
    cleaned = F.filter(
        raw,
        lambda p: ~((F.size(p) == 1) & (F.size(F.element_at(p, 1)) == 1)),
    )
    return F.when(multi.isNotNull(), cleaned)
