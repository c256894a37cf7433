"""SURVEY.md §2.2 — geospatial queries.

The substrate has no geometry tables, so geometries are derived
deterministically from the TPC-H keys inside each query (rectangles on
a grid for nations, fractional-dyadic points for customers); the
DuckDB oracle verifies the real geometry UDFs against the closed-form
rectangle arithmetic. Irregular-polygon semantics are covered by
tests/test_geometry.py.

Derivations (mirrored exactly in SQL):
  nation rect:  x0 = (key%5)*6, y0 = floor(key/5)*5,
                w = 5 + (key%3)*2, h = 4 + key%4
  customer pt:  px = (key%40)*0.75 + 0.375          (dyadic, never integer)
                py = ((key*7)%25)*0.8125 + 0.3203125 (dyadic, never integer)
Points are never on rectangle boundaries, so strict-interior SQL
comparisons equal the ray-cast's half-open semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from utility_service_areas_spark.functions.geometry import (
    st_area,
    st_area_multi,
    st_bbox,
    st_centroid,
    st_intersection_area,
    st_make_valid,
    st_plss_cell,
    st_union_area,
)
from utility_service_areas_spark.operators.geo import (
    grid_union_area,
    points_in_polygons,
    polygon_overlap_pairs,
    rect_geometry,
    with_bbox_cols,
)
from utility_service_areas_spark.plans.registry import query
from utility_service_areas_spark.sources.tables import load_table
from utility_service_areas_spark.operators.localrel import local_df

_RECT_SQL = """
    SELECT n_nationkey, n_regionkey,
           CAST((n_nationkey % 5) * 6 AS DOUBLE) AS x0,
           CAST(floor(n_nationkey / 5) * 5 AS DOUBLE) AS y0,
           CAST(5 + (n_nationkey % 3) * 2 AS DOUBLE) AS w,
           CAST(4 + n_nationkey % 4 AS DOUBLE) AS h
    FROM nation
"""

_POINT_SQL = """
    SELECT c_custkey,
           (c_custkey % 40) * 0.75 + 0.375 AS px,
           ((c_custkey * 7) % 25) * 0.8125 + 0.3203125 AS py
    FROM customer
"""


def _nation_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    df = n.select(
        "n_nationkey",
        "n_regionkey",
        ((k % 5) * 6).cast("double").alias("x0"),
        (F.floor(k / 5) * 5).cast("double").alias("y0"),
        (5 + (k % 3) * 2).cast("double").alias("w"),
        (4 + k % 4).cast("double").alias("h"),
    )
    return df.withColumn(
        "geometry", rect_geometry(F.col("x0"), F.col("y0"), F.col("w"), F.col("h"))
    )


def _customer_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return c.select(
        "c_custkey",
        ((k % 40) * 0.75 + 0.375).alias("px"),
        (((k * 7) % 25) * 0.8125 + 0.3203125).alias("py"),
    )


@query(
    "geo_area_rank",
    oracle=f"""
    SELECT n_nationkey,
           CAST(round(w * h * 1000) AS BIGINT) AS area_milli,
           CAST(row_number() OVER (ORDER BY w * h DESC, n_nationkey) AS BIGINT)
               AS area_rank
    FROM ({_RECT_SQL})
    """,
    doc="st_area ranking (README Q2 'largest/smallest utility'); shoelace "
    "UDF verified against closed-form w*h.",
    tags=("geo",),
)
def geo_area_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    rects = _nation_rects(spark, sf_dir)
    out = rects.withColumn("area", st_area(F.col("geometry")))
    w = Window.orderBy(F.col("area").desc(), F.col("n_nationkey"))
    return out.select(
        "n_nationkey",
        F.round(F.col("area") * 1000).cast("long").alias("area_milli"),
        F.row_number().over(w).cast("long").alias("area_rank"),
    )


@query(
    "geo_point_in_polygon",
    oracle=f"""
    SELECT c_custkey, n_nationkey
    FROM ({_POINT_SQL}) p JOIN ({_RECT_SQL}) r
      ON p.px > r.x0 AND p.px < r.x0 + r.w
     AND p.py > r.y0 AND p.py < r.y0 + r.h
    """,
    doc="Point-in-polygon spatial join (README Q3 'what utility serves "
    "this location'): broadcast polygons, JVM bbox prefilter, ray-cast "
    "verify on candidates only.",
    tags=("geo", "bench"),
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _customer_points(spark, sf_dir)
    rects = _nation_rects(spark, sf_dir).select("n_nationkey", "geometry")
    return points_in_polygons(pts, rects).select("c_custkey", "n_nationkey")


@query(
    "geo_overlap_pairs",
    oracle=f"""
    SELECT a.n_nationkey AS id_a, b.n_nationkey AS id_b
    FROM ({_RECT_SQL}) a JOIN ({_RECT_SQL}) b
      ON a.n_nationkey < b.n_nationkey
     AND a.x0 <= b.x0 + b.w AND b.x0 <= a.x0 + a.w
     AND a.y0 <= b.y0 + b.h AND b.y0 <= a.y0 + a.h
    """,
    doc="Overlap detection self-join (README Q1 'do service areas "
    "overlap?'): bbox candidates, exact polygons_intersect verify in "
    "operators/geo.py:polygon_overlap_pairs (touching boundaries "
    "count, matching inclusive interval oracle).",
    tags=("geo",),
)
def geo_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    rects = _nation_rects(spark, sf_dir).select("n_nationkey", "geometry")
    return polygon_overlap_pairs(rects, "n_nationkey")


@query(
    "geo_pip_grid_cells",
    oracle=f"""
    SELECT c_custkey, n_nationkey
    FROM ({_POINT_SQL}) p JOIN ({_RECT_SQL}) r
      ON p.px > r.x0 AND p.px < r.x0 + r.w
     AND p.py > r.y0 AND p.py < r.y0 + r.h
    """,
    doc="The 100 TB plan shape of geo_point_in_polygon: grid-cell "
    "EQUI-join candidates (no broadcast, no BNLJ — the path for a "
    "polygon side too big to broadcast), same ray-cast verify, "
    "hash-checked against the same oracle as the broadcast twin.",
    tags=("geo", "scale"),
)
def geo_pip_grid_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _customer_points(spark, sf_dir)
    rects = _nation_rects(spark, sf_dir).select("n_nationkey", "geometry")
    return points_in_polygons(pts, rects, grid_cell=5.0).select(
        "c_custkey", "n_nationkey"
    )


@query(
    "geo_overlap_grid_cells",
    oracle=f"""
    SELECT a.n_nationkey AS id_a, b.n_nationkey AS id_b
    FROM ({_RECT_SQL}) a JOIN ({_RECT_SQL}) b
      ON a.n_nationkey < b.n_nationkey
     AND a.x0 <= b.x0 + b.w AND b.x0 <= a.x0 + a.w
     AND a.y0 <= b.y0 + b.h AND b.y0 <= a.y0 + a.h
    """,
    doc="The 100 TB plan shape of geo_overlap_pairs: both sides explode "
    "bbox cell ranges, candidates meet in a grid-cell EQUI-join with "
    "exactly-once reference-cell emission, verified and hash-checked "
    "against the same oracle as the broadcast twin.",
    tags=("geo", "scale"),
)
def geo_overlap_grid_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    rects = _nation_rects(spark, sf_dir).select("n_nationkey", "geometry")
    return polygon_overlap_pairs(rects, "n_nationkey", grid_cell=5.0)


@query(
    "geo_bbox_centroid",
    oracle=f"""
    SELECT n_nationkey,
           CAST(round(x0 * 1000) AS BIGINT) AS xmin_milli,
           CAST(round((x0 + w) * 1000) AS BIGINT) AS xmax_milli,
           CAST(round((x0 + w / 2) * 1000) AS BIGINT) AS cx_milli,
           CAST(round((y0 + h / 2) * 1000) AS BIGINT) AS cy_milli
    FROM ({_RECT_SQL})
    """,
    doc="st_bbox + area-weighted centroid UDFs vs closed form.",
    tags=("geo",),
)
def geo_bbox_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    rects = _nation_rects(spark, sf_dir)
    out = rects.withColumn("bb", st_bbox(F.col("geometry"))).withColumn(
        "c", st_centroid(F.col("geometry"))
    )
    return out.select(
        "n_nationkey",
        F.round(F.col("bb.xmin") * 1000).cast("long").alias("xmin_milli"),
        F.round(F.col("bb.xmax") * 1000).cast("long").alias("xmax_milli"),
        F.round(F.col("c.cx") * 1000).cast("long").alias("cx_milli"),
        F.round(F.col("c.cy") * 1000).cast("long").alias("cy_milli"),
    )


# PLSS codes derived from part keys; layout mirrors _targets.R:212-233
# codes like 'S009N067W05'. Boustrophedon section grid: section 1 = NE
# corner, rows snake west; see functions/geometry.py:plss_cell_rect.
_PLSS_CODE_SQL = """
    SELECT p_partkey,
           concat('S',
                  lpad(CAST(1 + p_partkey % 20 AS VARCHAR), 3, '0'), 'N',
                  lpad(CAST(1 + p_partkey % 15 AS VARCHAR), 3, '0'), 'W',
                  lpad(CAST(1 + p_partkey % 36 AS VARCHAR), 2, '0')) AS code,
           1 + p_partkey % 20 AS twp,
           1 + p_partkey % 15 AS rng,
           1 + p_partkey % 36 AS sec
    FROM part
"""


@query(
    "geo_plss_cells",
    oracle=f"""
    SELECT p_partkey, code,
           CAST(round((-rng * 6 + CASE WHEN (CAST(floor((sec-1)/6) AS INT) % 2) = 0
                                       THEN 5 - ((sec-1) % 6)
                                       ELSE (sec-1) % 6 END) * 1000) AS BIGINT)
               AS x0_milli,
           CAST(round(((twp - 1) * 6 + (5 - CAST(floor((sec-1)/6) AS INT))) * 1000)
               AS BIGINT) AS y0_milli,
           CAST(1000 AS BIGINT) AS area_milli
    FROM ({_PLSS_CODE_SQL})
    """,
    doc="PLSS cell-code → 1-sq-mi section geometry (parity: plss_patches "
    "_targets.R:212-233, format_plss_patches R/functions.R:382-397); "
    "UDF-parsed boustrophedon layout vs closed-form SQL.",
    tags=("geo",),
)
def geo_plss_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    codes = part.select(
        "p_partkey",
        F.concat(
            F.lit("S"),
            F.lpad((1 + k % 20).cast("string"), 3, "0"),
            F.lit("N"),
            F.lpad((1 + k % 15).cast("string"), 3, "0"),
            F.lit("W"),
            F.lpad((1 + k % 36).cast("string"), 2, "0"),
        ).alias("code"),
    )
    out = codes.withColumn("geometry", st_plss_cell(F.col("code")))
    bb = st_bbox(F.col("geometry"))
    area = st_area(F.col("geometry"))
    return out.select(
        "p_partkey",
        "code",
        F.round(bb.getField("xmin") * 1000).cast("long").alias("x0_milli"),
        F.round(bb.getField("ymin") * 1000).cast("long").alias("y0_milli"),
        F.round(area * 1000).cast("long").alias("area_milli"),
    )


@query(
    "geo_union_grid_area",
    oracle="""
    SELECT CAST(l_suppkey % 20 AS BIGINT) AS cert,
           count(DISTINCT concat('S',
                 lpad(CAST(1 + l_partkey % 20 AS VARCHAR), 3, '0'), 'N',
                 lpad(CAST(1 + l_partkey % 15 AS VARCHAR), 3, '0'), 'W',
                 lpad(CAST(1 + l_partkey % 36 AS VARCHAR), 2, '0')))
               AS n_cells,
           CAST(count(DISTINCT concat('S',
                 lpad(CAST(1 + l_partkey % 20 AS VARCHAR), 3, '0'), 'N',
                 lpad(CAST(1 + l_partkey % 15 AS VARCHAR), 3, '0'), 'W',
                 lpad(CAST(1 + l_partkey % 36 AS VARCHAR), 2, '0')))
               AS DOUBLE) AS union_area
    FROM lineitem
    GROUP BY cert
    """,
    doc="st_union of grid-aligned PLSS cells per certificate (parity: "
    "save_plss_patches st_union R/functions.R:406): on a shared grid the "
    "dissolve is a distinct-count — one partial-aggregated shuffle, no "
    "geometry reduce.",
    tags=("geo",),
)
def geo_union_grid_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    k = F.col("l_partkey")
    cells = li.select(
        (F.col("l_suppkey") % 20).cast("long").alias("cert"),
        F.concat(
            F.lit("S"),
            F.lpad((1 + k % 20).cast("string"), 3, "0"),
            F.lit("N"),
            F.lpad((1 + k % 15).cast("string"), 3, "0"),
            F.lit("W"),
            F.lpad((1 + k % 36).cast("string"), 2, "0"),
        ).alias("cell"),
    )
    return grid_union_area(cells, "cert", "cell")


@query(
    "geo_make_valid",
    oracle=f"""
    SELECT n_nationkey,
           CAST(5 AS BIGINT) AS n_points_fixed,
           CAST(round(w * h * 1000) AS BIGINT) AS area_milli
    FROM ({_RECT_SQL})
    """,
    doc="st_make_valid (parity: R/functions.R:182,468): repairs an "
    "unclosed ring with a duplicated vertex; verified by the fixed "
    "ring's vertex count and area matching closed form.",
    tags=("geo",),
)
def geo_make_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    rects = _nation_rects(spark, sf_dir)
    # Build a deliberately broken ring: duplicated first vertex, unclosed.
    pt = lambda x, y: F.array(x.cast("double"), y.cast("double"))  # noqa: E731
    x0, y0, w, h = (F.col(c) for c in ("x0", "y0", "w", "h"))
    broken = F.array(
        F.array(
            pt(x0, y0),
            pt(x0, y0),  # duplicate vertex
            pt(x0 + w, y0),
            pt(x0 + w, y0 + h),
            pt(x0, y0 + h),  # not closed
        )
    )
    fixed = rects.withColumn("geometry", st_make_valid(broken))
    return fixed.select(
        "n_nationkey",
        F.size(F.element_at(F.col("geometry"), 1)).cast("long").alias("n_points_fixed"),
        F.round(st_area(F.col("geometry")) * 1000).cast("long").alias("area_milli"),
    )


# Map-viewport bbox (mirrors the reference UI's bounds.contains /
# getBounds logic, index.qmd:244-265: render markers inside the view,
# fly to a feature's bounds).
VIEWPORT = (4.0, 3.0, 22.0, 16.0)  # xmin, ymin, xmax, ymax


@query(
    "geo_viewport_query",
    oracle=f"""
    WITH pts AS ({_POINT_SQL}), rects AS ({_RECT_SQL})
    SELECT 'point' AS kind, c_custkey AS id FROM pts
    WHERE px >= {VIEWPORT[0]} AND px <= {VIEWPORT[2]}
      AND py >= {VIEWPORT[1]} AND py <= {VIEWPORT[3]}
    UNION ALL
    SELECT 'area' AS kind, n_nationkey AS id FROM rects
    WHERE x0 <= {VIEWPORT[2]} AND x0 + w >= {VIEWPORT[0]}
      AND y0 <= {VIEWPORT[3]} AND y0 + h >= {VIEWPORT[1]}
    """,
    doc="Viewport query (parity: the map UI's bounds.contains marker "
    "culling and feature-bounds fly-to, reference index.qmd:239-276): "
    "points inside the view plus service areas intersecting it. Pure "
    "codegen bbox predicates — no geometry UDF needed for the render "
    "path.",
    tags=("geo",),
)
def geo_viewport_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    xmin, ymin, xmax, ymax = VIEWPORT
    pts = _customer_points(spark, sf_dir).filter(
        (F.col("px") >= xmin)
        & (F.col("px") <= xmax)
        & (F.col("py") >= ymin)
        & (F.col("py") <= ymax)
    )
    rects = with_bbox_cols(_nation_rects(spark, sf_dir)).filter(
        (F.col("xmin") <= xmax)
        & (F.col("xmax") >= xmin)
        & (F.col("ymin") <= ymax)
        & (F.col("ymax") >= ymin)
    )
    return pts.select(
        F.lit("point").alias("kind"), F.col("c_custkey").alias("id")
    ).unionByName(
        rects.select(F.lit("area").alias("kind"), F.col("n_nationkey").cast("long").alias("id"))
    )


@query(
    "geo_combine_multipolygon",
    oracle=f"""
    SELECT n_regionkey,
           count(*) AS n_polygons,
           CAST(round(sum(w * h) * 1000) AS BIGINT) AS total_area_milli
    FROM ({_RECT_SQL})
    GROUP BY n_regionkey
    """,
    doc="st_combine: group polygons into a MultiPolygon per region "
    "(parity: R/functions.R:184,471) and compute its area — one "
    "shuffle on the group key, area via multipolygon UDF.",
    tags=("geo",),
)
def geo_combine_multipolygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    rects = _nation_rects(spark, sf_dir)
    combined = rects.groupBy("n_regionkey").agg(
        F.collect_list("geometry").alias("multipolygon"),
        F.count(F.lit(1)).alias("n_polygons"),
    )
    return combined.select(
        "n_regionkey",
        "n_polygons",
        F.round(st_area_multi(F.col("multipolygon")) * 1000)
        .cast("long")
        .alias("total_area_milli"),
    )


@query(
    "geo_union_overlap_area",
    oracle=f"""
    SELECT a.n_nationkey AS id_a, b.n_nationkey AS id_b,
           CAST(round((a.w * a.h + b.w * b.h
                       - greatest(0, least(a.x0 + a.w, b.x0 + b.w)
                                     - greatest(a.x0, b.x0))
                         * greatest(0, least(a.y0 + a.h, b.y0 + b.h)
                                       - greatest(a.y0, b.y0))) * 1000)
                AS BIGINT) AS union_area_milli,
           CAST(round(greatest(0, least(a.x0 + a.w, b.x0 + b.w)
                                  - greatest(a.x0, b.x0))
                      * greatest(0, least(a.y0 + a.h, b.y0 + b.h)
                                    - greatest(a.y0, b.y0)) * 1000)
                AS BIGINT) AS overlap_area_milli
    FROM ({_RECT_SQL}) a JOIN ({_RECT_SQL}) b
      ON a.n_nationkey < b.n_nationkey
     AND a.x0 <= b.x0 + b.w AND b.x0 <= a.x0 + a.w
     AND a.y0 <= b.y0 + b.h AND b.y0 <= a.y0 + a.h
    """,
    doc="True polygon union/intersection areas for overlapping pairs "
    "(README Q1 'how MUCH do service areas overlap'; parity "
    "R/functions.R:406,431 st_union): planar overlay by edge "
    "fragmentation + side classification (functions/geometry.py "
    "overlay()), verified against closed-form rectangle clipping. "
    "Scale posture: JVM bbox join prunes to candidate pairs before "
    "the Arrow-batched overlay UDF ever runs — the corpus cross "
    "product never materializes.",
    tags=("geo",),
)
def geo_union_overlap_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    rects = _nation_rects(spark, sf_dir).select(
        "n_nationkey", "x0", "y0", "w", "h", "geometry"
    )
    a = rects.alias("a")
    b = rects.alias("b")
    pairs = a.join(
        F.broadcast(b),
        (F.col("a.n_nationkey") < F.col("b.n_nationkey"))
        & (F.col("a.x0") <= F.col("b.x0") + F.col("b.w"))
        & (F.col("b.x0") <= F.col("a.x0") + F.col("a.w"))
        & (F.col("a.y0") <= F.col("b.y0") + F.col("b.h"))
        & (F.col("b.y0") <= F.col("a.y0") + F.col("a.h")),
    )
    return pairs.select(
        F.col("a.n_nationkey").alias("id_a"),
        F.col("b.n_nationkey").alias("id_b"),
        F.round(st_union_area(F.col("a.geometry"), F.col("b.geometry")) * 1000)
        .cast("long")
        .alias("union_area_milli"),
        F.round(st_intersection_area(F.col("a.geometry"), F.col("b.geometry")) * 1000)
        .cast("long")
        .alias("overlap_area_milli"),
    )


@query(
    "geo_dissolve_true_union",
    oracle=f"""
    SELECT CAST(p_partkey % 150 AS BIGINT) AS cert,
           count(DISTINCT code) AS n_distinct_cells,
           CAST(count(DISTINCT code) * 1000 AS BIGINT) AS union_area_milli
    FROM ({_PLSS_CODE_SQL})
    GROUP BY cert
    """,
    doc="TRUE distributed st_union dissolve (R/functions.R:406): each "
    "certificate's PLSS cells fold through the planar overlay inside "
    "applyInPandas — shared boundaries vanish, overlaps merge. The "
    "grid alignment makes the exact union area equal the distinct "
    "cell count, which is what the DuckDB oracle checks — i.e. the "
    "real clipping kernel is verified against the closed-form "
    "dissolve. One shuffle on the certificate key; overlay cost is "
    "per-group (dozens of cells), never corpus-wide.",
    tags=("geo",),
)
def geo_dissolve_true_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.geo import dissolve_polygons

    part = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    cells = part.select(
        (k % 150).cast("long").alias("cert"),
        F.concat(
            F.lit("S"),
            F.lpad((1 + k % 20).cast("string"), 3, "0"),
            F.lit("N"),
            F.lpad((1 + k % 15).cast("string"), 3, "0"),
            F.lit("W"),
            F.lpad((1 + k % 36).cast("string"), 2, "0"),
        ).alias("code"),
    ).distinct()
    geoms = cells.withColumn("geometry", st_plss_cell(F.col("code")))
    dissolved = dissolve_polygons(geoms, "cert")
    return dissolved.select(
        "cert",
        F.col("n_input_polygons").alias("n_distinct_cells"),
        F.round(st_area_multi(F.col("union_geometry")) * 1000)
        .cast("long")
        .alias("union_area_milli"),
    )


@query(
    "geo_simplify",
    oracle=f"""
    SELECT n_nationkey,
           CAST(9 AS BIGINT) AS n_points_in,
           CAST(5 AS BIGINT) AS n_points_out,
           CAST(round(w * h * 1000) AS BIGINT) AS area_milli
    FROM ({_RECT_SQL})
    """,
    doc="st_simplify (Douglas-Peucker): rectangles densified with a "
    "collinear midpoint per edge (9-point closed ring) must simplify "
    "back to the 5-point ring at tolerance 0, area unchanged — the "
    "closed-form oracle; irregular-shape behavior (tolerance sweeps, "
    "idempotence) is pytest-covered. Map-only Arrow UDF: geometry "
    "never shuffles, vertex reduction happens where the data sits — "
    "exactly how a 100 TB tile-rendering pass would run it.",
    tags=("geo",),
)
def geo_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.functions.geometry import st_simplify

    rects = _nation_rects(spark, sf_dir)
    pt = lambda x, y: F.array(x.cast("double"), y.cast("double"))  # noqa: E731
    x0, y0, w, h = (F.col(c) for c in ("x0", "y0", "w", "h"))
    dense = F.array(
        F.array(
            pt(x0, y0),
            pt(x0 + w / 2, y0),  # collinear midpoint
            pt(x0 + w, y0),
            pt(x0 + w, y0 + h / 2),  # collinear midpoint
            pt(x0 + w, y0 + h),
            pt(x0 + w / 2, y0 + h),  # collinear midpoint
            pt(x0, y0 + h),
            pt(x0, y0 + h / 2),  # collinear midpoint
            pt(x0, y0),
        )
    )
    simplified = rects.withColumn("geometry", st_simplify(dense, 0.0))
    return simplified.select(
        "n_nationkey",
        F.lit(9).cast("long").alias("n_points_in"),
        F.size(F.element_at(F.col("geometry"), 1)).cast("long").alias("n_points_out"),
        F.round(st_area(F.col("geometry")) * 1000).cast("long").alias("area_milli"),
    )


@query(
    "geo_morton_order",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             CAST((c_custkey % 40) AS BIGINT) AS gx,
             CAST(((c_custkey * 7) % 25) AS BIGINT) AS gy
      FROM customer)
    SELECT c_custkey, gx, gy,
           CAST((
             ((gx & 1))       | ((gy & 1) << 1) |
             ((gx & 2) << 1)  | ((gy & 2) << 2) |
             ((gx & 4) << 2)  | ((gy & 4) << 3) |
             ((gx & 8) << 3)  | ((gy & 8) << 4) |
             ((gx & 16) << 4) | ((gy & 16) << 5) |
             ((gx & 32) << 5) | ((gy & 32) << 6)
           ) AS BIGINT) AS morton
    FROM pts
    """,
    doc="Z-order (Morton) locality code for point data: interleaves "
    "the 6-bit grid coordinates with pure JVM bit arithmetic (no UDF). "
    "Writing geo data range-partitioned/sorted by this key clusters "
    "spatial neighbors into the same files, so bbox queries prune "
    "parquet row groups by min/max stats — the Delta/Iceberg Z-ORDER "
    "technique, expressed as a plain column. Map-only; ordering is the "
    "writer's choice downstream.",
    tags=("geo",),
)
def geo_morton_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    gx = (F.col("c_custkey") % 40).cast("long")
    gy = ((F.col("c_custkey") * 7) % 25).cast("long")
    bits = None
    for b in range(6):
        x_part = F.shiftleft(gx.bitwiseAND(1 << b), b)
        y_part = F.shiftleft(gy.bitwiseAND(1 << b), b + 1)
        term = x_part.bitwiseOR(y_part)
        bits = term if bits is None else bits.bitwiseOR(term)
    return c.select(
        "c_custkey", gx.alias("gx"), gy.alias("gy"), bits.cast("long").alias("morton")
    )


def _rect_distance_structs(spark: SparkSession, sf_dir: str) -> list:
    """The driver-inlined polygon dim for the zero-shuffle nearest-
    area queries: collect the bounded rect layer once and return one
    (d2, key) struct expression per rect (exact clamped point-to-
    rectangle distance against the px/py point columns). Shared by
    geo_nearest_area and geo_knn_areas — r9 code review deduplicated
    the two byte-identical construction blocks. Empty list on an
    empty layer (callers return a typed empty frame instead of
    building array() of nothing, which would fail analysis)."""
    rects = (
        _nation_rects(spark, sf_dir)
        .select("n_nationkey", "x0", "y0", "w", "h")
        .collect()
    )
    cands = []
    for r in rects:
        dx = F.greatest(
            F.lit(r.x0) - F.col("px"),
            F.col("px") - F.lit(r.x0 + r.w),
            F.lit(0.0),
        )
        dy = F.greatest(
            F.lit(r.y0) - F.col("py"),
            F.col("py") - F.lit(r.y0 + r.h),
            F.lit(0.0),
        )
        cands.append(
            F.struct(
                (dx * dx + dy * dy).alias("d2"),
                F.lit(r.n_nationkey).alias("k"),
            )
        )
    return cands


@query(
    "geo_nearest_area",
    oracle=f"""
    SELECT c_custkey, n_nationkey AS nearest_nationkey,
           CAST(round(d2 * 1000000) AS BIGINT) AS dist2_micros
    FROM (
      SELECT c_custkey, n_nationkey, dx * dx + dy * dy AS d2,
             row_number() OVER (
               PARTITION BY c_custkey
               ORDER BY dx * dx + dy * dy, n_nationkey) AS rn
      FROM (
        SELECT p.c_custkey, r.n_nationkey,
               greatest(r.x0 - p.px, p.px - (r.x0 + r.w), 0) AS dx,
               greatest(r.y0 - p.py, p.py - (r.y0 + r.h), 0) AS dy
        FROM ({_POINT_SQL}) p, ({_RECT_SQL}) r))
    WHERE rn = 1
    """,
    doc="Nearest service area per point (README Q3's complement: which "
    "utility is CLOSEST when a location sits in no service area — "
    "e.g. routing an unserved community to its likely provider). "
    "Exact point-to-rectangle distance (clamped axis deltas, closed "
    "form — no centroid approximation). r9 retrofit to the "
    "geo_knn_areas shape: the dim-sized polygon layer is collected "
    "driver-side (bounded, the kmeans-centroid pattern) and inlined "
    "as (d2, key) struct expressions, so the argmin is a map-side "
    "array_min per point — ZERO shuffle, replacing the earlier "
    "broadcast-cross + min_by aggregate (which still shuffled one "
    "row per point for the groupBy). Oracle unchanged; ties break "
    "on nationkey inside the struct compare, same as the window "
    "order. A >100k-polygon layer switches to the grid_cell "
    "equi-join + ring-search pattern (operators/geo.py).",
    tags=("geo",),
)
def geo_nearest_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _customer_points(spark, sf_dir)
    cands = _rect_distance_structs(spark, sf_dir)
    if not cands:
        return local_df(spark, 
            [], "c_custkey long, nearest_nationkey int, dist2_micros long"
        )
    best = F.array_min(F.array(*cands))
    return pts.select(
        "c_custkey",
        best.getField("k").alias("nearest_nationkey"),
        F.round(best.getField("d2") * 1_000_000).cast("long").alias("dist2_micros"),
    )


_DENSITY_CELL = 4.0  # grid cell size for the density surface


@query(
    "geo_grid_density",
    oracle=f"""
    SELECT CAST(floor(px / {_DENSITY_CELL}) AS BIGINT) AS cx,
           CAST(floor(py / {_DENSITY_CELL}) AS BIGINT) AS cy,
           count(*) AS n_points,
           count(DISTINCT c_custkey % 100) AS n_cohorts
    FROM ({_POINT_SQL})
    GROUP BY 1, 2
    """,
    doc="Point-density surface (heatmap input / load-planning grid): "
    "points bin into fixed grid cells with per-cell totals and a "
    "cohort-distinct count. Pure partial-aggregatable groupBy on the "
    "derived cell key — one shuffle whose key space is the OCCUPIED "
    "cell count, not the point count; at 100 TB this is the "
    "aggregation-pushdown-friendly shape (cell ids can even ride a "
    "parquet bucketing or Z-order layout, cf. geo_morton_order).",
    tags=("geo",),
)
def geo_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _customer_points(spark, sf_dir)
    return (
        pts.groupBy(
            F.floor(F.col("px") / _DENSITY_CELL).cast("long").alias("cx"),
            F.floor(F.col("py") / _DENSITY_CELL).cast("long").alias("cy"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.countDistinct(F.col("c_custkey") % 100).alias("n_cohorts"),
        )
    )


@query(
    "geo_shapefile_roundtrip",
    oracle=f"""
    SELECT n_nationkey,
           'polygon' AS shape_type,
           CAST(5 AS BIGINT) AS n_points,
           CAST(round(x0 * 1000) AS BIGINT) AS x0_milli,
           CAST(round(y0 * 1000) AS BIGINT) AS y0_milli,
           CAST(round(w * 1000) AS BIGINT) AS w_milli,
           CAST(round(h * 1000) AS BIGINT) AS h_milli,
           n_name AS name_back
    FROM ({_RECT_SQL.replace("n_regionkey,", "n_regionkey, n_name,")})
    ORDER BY n_nationkey
    """,
    doc="ESRI shapefile encode→decode round trip, value-oracled (S17; "
    "BASELINE names 'Parquet/shapefiles' as source formats): each "
    "executor batch builds a REAL .shp + .dbf blob (ESRI whitepaper "
    "layout — big-endian record headers, little-endian shape bodies, "
    "dBase III fixed-width attributes) from the nation rectangles, "
    "parses it back with the SAME sources/shapefile.py kernels the "
    "binaryFile reader uses, and emits the decoded bbox + attributes; "
    "the oracle recomputes them closed-form from the key arithmetic. "
    "All work is inside one mapInPandas (Arrow-batched, zero shuffle) "
    "— the file-level reader over a directory of real files is pinned "
    "by tests/test_shapefile.py. All coordinates are small integers, "
    "so the IEEE round trip is exact on both engines.",
    tags=("geo", "source"),
)
def geo_shapefile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from utility_service_areas_spark.sources.shapefile import (
        SHAPE_POLYGON,
        build_shapefile,
        parse_dbf_bytes,
        parse_shp_bytes,
    )

    cols = [
        "n_nationkey",
        "shape_type",
        "n_points",
        "x0_milli",
        "y0_milli",
        "w_milli",
        "h_milli",
        "name_back",
    ]

    def roundtrip(batches):
        for pdf in batches:
            records = []
            for r in pdf.itertuples():
                x0, y0, w, h = float(r.x0), float(r.y0), float(r.w), float(r.h)
                ring = [
                    [x0, y0],
                    [x0, y0 + h],
                    [x0 + w, y0 + h],
                    [x0 + w, y0],
                    [x0, y0],
                ]
                records.append(
                    (
                        SHAPE_POLYGON,
                        [ring],
                        {"NKEY": int(r.n_nationkey), "NNAME": r.n_name},
                    )
                )
            out = []
            if records:
                shp, _shx, dbf = build_shapefile(
                    records, [("NKEY", "N", 10, 0), ("NNAME", "C", 32, 0)]
                )
                attrs_by_rec = {
                    a["recno"]: a["attrs"] for a in parse_dbf_bytes("m", dbf)
                }
                for g in parse_shp_bytes("m", shp):
                    a = attrs_by_rec[g["recno"]]
                    pts = g["geometry"][0]
                    xs = [p[0] for p in pts]
                    ys = [p[1] for p in pts]
                    out.append(
                        {
                            "n_nationkey": int(a["NKEY"]),
                            "shape_type": g["shape_type"],
                            "n_points": len(pts),
                            "x0_milli": round(min(xs) * 1000),
                            "y0_milli": round(min(ys) * 1000),
                            "w_milli": round((max(xs) - min(xs)) * 1000),
                            "h_milli": round((max(ys) - min(ys)) * 1000),
                            "name_back": a["NNAME"],
                        }
                    )
            yield pd.DataFrame(out, columns=cols)

    n = load_table(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    src = n.select(
        "n_nationkey",
        "n_name",
        ((k % 5) * 6).cast("double").alias("x0"),
        (F.floor(k / 5) * 5).cast("double").alias("y0"),
        (5 + (k % 3) * 2).cast("double").alias("w"),
        (4 + k % 4).cast("double").alias("h"),
    )
    schema = (
        "n_nationkey bigint, shape_type string, n_points bigint, "
        "x0_milli bigint, y0_milli bigint, w_milli bigint, h_milli bigint, "
        "name_back string"
    )
    return src.mapInPandas(roundtrip, schema).orderBy("n_nationkey")


@query(
    "geo_shapefile_pip",
    oracle=f"""
    SELECT r.n_nationkey, n.n_name,
           CAST(count(p.c_custkey) AS BIGINT) AS n_customers
    FROM nation n
    JOIN ({_RECT_SQL}) r ON n.n_nationkey = r.n_nationkey
    LEFT JOIN ({_POINT_SQL}) p
      ON p.px > r.x0 AND p.px < r.x0 + r.w
     AND p.py > r.y0 AND p.py < r.y0 + r.h
    GROUP BY 1, 2
    """,
    doc="Shapefile-backed point-in-polygon rollup — the FILE-LEVEL "
    "reader path (S17) inside a value-oracled query (the roundtrip "
    "query exercises the codec in-memory; this one goes through real "
    ".shp/.dbf files on disk via the binaryFile scan): the nation "
    "rectangles are written once per sf_dir as one shapefile PER "
    "REGION (5 file pairs, so the scan actually parallelizes by "
    "file), read back with sources.shapefile.read_shapefile, their "
    "bboxes recovered from the DECODED ring coordinates and dBase "
    "attributes, then customer points are counted per polygon with "
    "the strict-interior join. All coordinates are small integers, "
    "so the IEEE round trip through the file format is exact. Scale "
    "shape: at 100 TB the fixture-writing step is replaced by an "
    "existing shapefile directory; the binaryFile scan splits by "
    "file across executors, the decoded polygon dim is broadcast, "
    "and the point side never shuffles.",
    tags=("geo", "source"),
)
def geo_shapefile_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from utility_service_areas_spark.sources.shapefile import (
        SHAPE_POLYGON,
        read_shapefile,
        write_shapefile,
    )

    nat = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey", "n_name")
        .collect()  # 25-row dim, driver-side only to build the file fixture
    )
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    fix = os.path.join(tempfile.gettempdir(), f"usa_shp_pip_{tag}")
    if not os.path.isdir(fix):
        tmp = f"{fix}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        by_region: dict[int, list] = {}
        for r in nat:
            by_region.setdefault(int(r.n_regionkey), []).append(r)
        for reg, rows in sorted(by_region.items()):
            records = []
            for r in sorted(rows, key=lambda x: x.n_nationkey):
                k = int(r.n_nationkey)
                x0, y0 = float((k % 5) * 6), float((k // 5) * 5)
                w, h = float(5 + (k % 3) * 2), float(4 + k % 4)
                ring = [
                    [x0, y0],
                    [x0, y0 + h],
                    [x0 + w, y0 + h],
                    [x0 + w, y0],
                    [x0, y0],
                ]
                records.append(
                    (SHAPE_POLYGON, [ring], {"NKEY": k, "NNAME": r.n_name})
                )
            write_shapefile(
                tmp,
                f"region{reg}",
                records,
                [("NKEY", "N", 10, 0), ("NNAME", "C", 32, 0)],
            )
        try:
            os.rename(tmp, fix)
        except OSError:  # a concurrent builder won the rename race
            shutil.rmtree(tmp, ignore_errors=True)

    from utility_service_areas_spark.operators.dedup import lineage_cut

    polys = read_shapefile(spark, fix)
    flat = F.flatten(F.col("geometry"))
    xs = F.transform(flat, lambda p: p[0])
    ys = F.transform(flat, lambda p: p[1])
    # rect feeds both the PIP join build side and the final left join
    # — cut so the shapefile directory is scanned/parsed ONCE, not
    # once per consumer (the multi-consumer recompute trap).
    rect = lineage_cut(
        polys.select(
            F.col("attrs")["NKEY"].cast("long").alias("n_nationkey"),
            F.col("attrs")["NNAME"].alias("n_name"),
            F.array_min(xs).alias("x0"),
            F.array_min(ys).alias("y0"),
            (F.array_max(xs) - F.array_min(xs)).alias("w"),
            (F.array_max(ys) - F.array_min(ys)).alias("h"),
        )
    )
    pts = _customer_points(spark, sf_dir)
    inside = (
        (F.col("px") > F.col("x0"))
        & (F.col("px") < F.col("x0") + F.col("w"))
        & (F.col("py") > F.col("y0"))
        & (F.col("py") < F.col("y0") + F.col("h"))
    )
    cnt = (
        pts.join(F.broadcast(rect), inside)
        .groupBy("n_nationkey")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        rect.select("n_nationkey", "n_name")
        .join(cnt, "n_nationkey", "left")
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("n_customers"),
        )
    )


@query(
    "geo_knn_areas",
    oracle=f"""
    SELECT c_custkey, CAST(rn AS INTEGER) AS rank, n_nationkey,
           CAST(round(d2 * 1000000) AS BIGINT) AS dist2_micros
    FROM (
      SELECT c_custkey, n_nationkey, dx * dx + dy * dy AS d2,
             row_number() OVER (
               PARTITION BY c_custkey
               ORDER BY dx * dx + dy * dy, n_nationkey) AS rn
      FROM (
        SELECT p.c_custkey, r.n_nationkey,
               greatest(r.x0 - p.px, p.px - (r.x0 + r.w), 0) AS dx,
               greatest(r.y0 - p.py, p.py - (r.y0 + r.h), 0) AS dy
        FROM ({_POINT_SQL}) p, ({_RECT_SQL}) r))
    WHERE rn <= 3
    """,
    doc="k-nearest service areas per point (k=3): the fallback-"
    "provider ranking geo_nearest_area's 1-NN can't answer (primary "
    "unavailable -> who's second/third closest). Exact clamped "
    "point-to-rectangle distance against the dim-sized polygon "
    "layer, but ZERO shuffle: the 25-rect dim is collected driver-"
    "side (bounded, like kmeans centroids) and inlined as an array "
    "of (d2, key) struct expressions, so top-3 is a map-side "
    "sort_array + slice + posexplode per point — strictly better "
    "than the 1-NN's broadcast-cross + agg (no points x rects "
    "intermediate at all). Ties break on nationkey inside the struct "
    "sort, mirroring the oracle's (d2, key) window order; doubles "
    "are dyadic-exact so the cross-engine ordering is bitwise. A "
    ">100k-polygon layer switches to grid_cell ring-search candidates "
    "first (operators/geo.py), then this same per-point fold.",
    tags=("geo",),
)
def geo_knn_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _customer_points(spark, sf_dir)
    cands = _rect_distance_structs(spark, sf_dir)
    if not cands:
        return local_df(spark, 
            [], "c_custkey long, rank int, n_nationkey int, dist2_micros long"
        )
    top3 = F.slice(F.sort_array(F.array(*cands)), 1, 3)
    ex = pts.select(
        "c_custkey", F.posexplode(top3).alias("pos", "cand")
    )
    return ex.select(
        "c_custkey",
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("cand.k").alias("n_nationkey"),
        F.round(F.col("cand.d2") * 1_000_000).cast("long").alias("dist2_micros"),
    )

# --- #226 Visvalingam-Whyatt simplification in window algebra --------
# The densified 9-point rect ring (#109's substrate): corners at odd
# positions, collinear edge midpoints at even ones. Offsets of vertex
# pos (1-based, ring closed at pos 9 == pos 1) as (fx_num, fy_num) in
# HALF-UNITS of (w, h): x = x0 + w * fx_num / 2, y = y0 + h * fy_num / 2.
_VW_OFFSETS = (
    (0, 0), (1, 0), (2, 0), (2, 1), (2, 2), (1, 2), (0, 2), (0, 1), (0, 0),
)
_VW_ROUNDS = 2
_VW_TOL4 = 0  # remove only exactly-collinear vertices (4x eff area = 0)


def _vw_round_sql(src: str, out: str) -> str:
    """One parallel-VW round: effective area per interior vertex from
    lag/lead windows (x4 so half-unit coords integerize), remove
    vertices at or under tolerance, guarded so two ADJACENT removables
    never drop in one round (the earlier position wins, the later one
    waits for the next round — the standard parallel-VW compromise),
    then re-number the ring."""
    return f"""
    {out}_eff AS (
      SELECT n_nationkey, pos, x, y,
             CAST(round(abs(
               (lag(x)  OVER w - x) * (lead(y) OVER w - y)
             - (lead(x) OVER w - x) * (lag(y)  OVER w - y)) * 4) AS BIGINT)
               AS eff4
      FROM {src}
      WINDOW w AS (PARTITION BY n_nationkey ORDER BY pos)),
    {out}_mark AS (
      SELECT *,
             (eff4 IS NOT NULL AND eff4 <= {_VW_TOL4}) AS removable
      FROM {out}_eff),
    {out} AS (
      SELECT n_nationkey,
             CAST(row_number() OVER (PARTITION BY n_nationkey ORDER BY pos)
                  AS BIGINT) AS pos,
             x, y
      FROM (SELECT *,
                   removable AND NOT coalesce(
                     lag(removable) OVER (PARTITION BY n_nationkey
                                          ORDER BY pos), false) AS rm
            FROM {out}_mark)
      WHERE NOT rm)"""


def _vw_oracle_sql() -> str:
    x_case = " ".join(
        f"WHEN {i + 1} THEN {fx}" for i, (fx, _) in enumerate(_VW_OFFSETS)
    )
    y_case = " ".join(
        f"WHEN {i + 1} THEN {fy}" for i, (_, fy) in enumerate(_VW_OFFSETS)
    )
    rounds = ",".join(
        _vw_round_sql("v0" if r == 1 else f"v{r - 1}", f"v{r}")
        for r in range(1, _VW_ROUNDS + 1)
    )
    return f"""
    WITH rect AS ({_RECT_SQL}),
    v0 AS (
      SELECT n_nationkey, CAST(pos AS BIGINT) AS pos,
             x0 + w * (CASE pos {x_case} END) / 2 AS x,
             y0 + h * (CASE pos {y_case} END) / 2 AS y
      FROM rect, unnest(generate_series(1, {len(_VW_OFFSETS)})) AS t(pos)),
    {rounds},
    counts AS (
      SELECT n_nationkey, CAST(count(*) AS BIGINT) AS n_r1
      FROM v1 GROUP BY 1),
    ring_sum AS (
      SELECT n_nationkey,
             CAST(count(*) AS BIGINT) AS n_out,
             CAST(abs(sum(CAST(round((x * lead_y - lead_x * y) * 4)
                               AS BIGINT))) AS BIGINT) AS sum4
      FROM (SELECT n_nationkey, pos, x, y,
                   lead(x) OVER (PARTITION BY n_nationkey ORDER BY pos)
                     AS lead_x,
                   lead(y) OVER (PARTITION BY n_nationkey ORDER BY pos)
                     AS lead_y
            FROM v{_VW_ROUNDS})
      WHERE lead_x IS NOT NULL GROUP BY n_nationkey)
    SELECT s.n_nationkey,
           CAST({len(_VW_OFFSETS)} AS BIGINT) AS n_points_in,
           c.n_r1 AS n_after_round1,
           s.n_out + 1 AS n_points_out,
           s.sum4 * 125 AS area_milli
    FROM ring_sum s JOIN counts c USING (n_nationkey)"""


@query(
    "geo_simplify_vw",
    oracle=_vw_oracle_sql(),
    doc="Visvalingam-Whyatt simplification as WINDOW ALGEBRA (vs "
    "#109's per-row Arrow-UDF Douglas-Peucker): vertices explode to "
    "rows, each round computes every interior vertex's effective "
    "triangle area from lag/lead (x4 so the half-unit substrate "
    "coords integerize — pure BIGINT compares), removes vertices at "
    "or under tolerance with an adjacency guard (two adjacent "
    "removables never drop in one round; the earlier position wins, "
    "the later waits — the standard parallel-VW compromise), and "
    "re-numbers. 2 fixed rounds, both replayed by the oracle; the "
    "final ring's shoelace area is an integer sum (x4 terms, x125 to "
    "milli). On the densified rects the collinear midpoints (eff "
    "area 0) vanish in round 1 and round 2 is a fixpoint — "
    "area preserved exactly. The plan shape is the 100 TB story: a "
    "RING TOO BIG FOR ONE ROW simplifies as keyed windows over its "
    "vertex rows (bounded rounds, no geometry blob ever built), "
    "where a per-row UDF needs the whole ring in memory.",
    tags=("geo",),
)
def geo_simplify_vw(spark: SparkSession, sf_dir: str) -> DataFrame:
    rects = _nation_rects(spark, sf_dir)
    x0, y0, w, h = (F.col(c) for c in ("x0", "y0", "w", "h"))
    verts = rects.select(
        "n_nationkey",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        (x0 + w * fx / 2).alias("x"),
                        (y0 + h * fy / 2).alias("y"),
                    )
                    for fx, fy in _VW_OFFSETS
                ]
            )
        ).alias("p0", "v"),
    ).select(
        "n_nationkey",
        (F.col("p0") + 1).cast("long").alias("pos"),
        F.col("v.x").alias("x"),
        F.col("v.y").alias("y"),
    )

    def vw_round(df: DataFrame) -> DataFrame:
        wnd = Window.partitionBy("n_nationkey").orderBy("pos")
        eff4 = F.round(
            F.abs(
                (F.lag("x").over(wnd) - F.col("x"))
                * (F.lead("y").over(wnd) - F.col("y"))
                - (F.lead("x").over(wnd) - F.col("x"))
                * (F.lag("y").over(wnd) - F.col("y"))
            )
            * 4
        ).cast("long")
        marked = df.withColumn("eff4", eff4).withColumn(
            "removable",
            F.col("eff4").isNotNull() & (F.col("eff4") <= _VW_TOL4),
        )
        rm = F.col("removable") & ~F.coalesce(
            F.lag("removable").over(wnd), F.lit(False)
        )
        return (
            marked.withColumn("rm", rm)
            .filter(~F.col("rm"))
            .select(
                "n_nationkey",
                F.row_number().over(wnd).cast("long").alias("pos"),
                "x",
                "y",
            )
        )

    v = verts
    survivor_counts = None
    for r in range(_VW_ROUNDS):
        v = vw_round(v)
        if r == 0:
            survivor_counts = v.groupBy("n_nationkey").agg(
                F.count(F.lit(1)).cast("long").alias("n_after_round1")
            )
    wnd = Window.partitionBy("n_nationkey").orderBy("pos")
    ring_sum = (
        v.withColumn("lead_x", F.lead("x").over(wnd))
        .withColumn("lead_y", F.lead("y").over(wnd))
        .filter(F.col("lead_x").isNotNull())
        .groupBy("n_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_out"),
            F.abs(
                F.sum(
                    F.round(
                        (
                            F.col("x") * F.col("lead_y")
                            - F.col("lead_x") * F.col("y")
                        )
                        * 4
                    ).cast("long")
                )
            )
            .cast("long")
            .alias("sum4"),
        )
    )
    return ring_sum.join(survivor_counts, "n_nationkey").select(
        "n_nationkey",
        F.lit(len(_VW_OFFSETS)).cast("long").alias("n_points_in"),
        "n_after_round1",
        (F.col("n_out") + 1).cast("long").alias("n_points_out"),
        (F.col("sum4") * 125).cast("long").alias("area_milli"),
    )


# --- #232 tile-pyramid rollup over the Morton code -------------------
_PYR_ZMAX = 6  # finest zoom: the full 6-bit-per-axis Morton grid
_PYR_ZMIN = 3

_MORTON_SQL = """
             ((gx & 1))       | ((gy & 1) << 1) |
             ((gx & 2) << 1)  | ((gy & 2) << 2) |
             ((gx & 4) << 2)  | ((gy & 4) << 3) |
             ((gx & 8) << 3)  | ((gy & 8) << 4) |
             ((gx & 16) << 4) | ((gy & 16) << 5) |
             ((gx & 32) << 5) | ((gy & 32) << 6)
"""


@query(
    "geo_quadkey_pyramid",
    oracle=f"""
    WITH pts AS (
      SELECT CAST((c_custkey % 40) AS BIGINT) AS gx,
             CAST(((c_custkey * 7) % 25) AS BIGINT) AS gy
      FROM customer),
    fine AS (
      SELECT CAST(({_MORTON_SQL}) AS BIGINT) AS tile,
             CAST(count(*) AS BIGINT) AS n
      FROM pts GROUP BY 1),
    levels AS (
      SELECT CAST(z AS BIGINT) AS zoom,
             CAST(tile // (1 << (2 * ({_PYR_ZMAX} - z))) AS BIGINT) AS tile,
             CAST(sum(n) AS BIGINT) AS n_points
      FROM fine, unnest(generate_series({_PYR_ZMIN}, {_PYR_ZMAX})) AS t(z)
      GROUP BY 1, 2)
    SELECT zoom, tile, n_points FROM levels
    """,
    doc="Tile-pyramid rollup (the map-server / heat-map aggregation): "
    "per-tile point counts at zooms 3..6, where the zoom-z tile id is "
    "the Morton code (#116's bit-interleave, shared SQL) truncated by "
    "2 bits per level — a quadkey prefix. The pyramid builds from the "
    "FINEST level only: one corpus scan to zoom-6 counts (partial-"
    "agg), then every coarser level re-aggregates the tile table, "
    "never the corpus — the rollup-of-rollup shape (#216), and the "
    "mergeability is what a tile server ships between zoom layers. "
    "Pure JVM bit arithmetic, no UDF; shuffles are tile-count-sized "
    "past the first.",
    tags=("geo",),
)
def geo_quadkey_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.dedup import lineage_cut

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = c.select(
        (k % 40).cast("long").alias("gx"),
        ((k * 7) % 25).cast("long").alias("gy"),
    )
    morton = F.expr(f"CAST(({_MORTON_SQL}) AS BIGINT)")
    fine = lineage_cut(
        pts.select(morton.alias("tile"))
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    levels = None
    for z in range(_PYR_ZMIN, _PYR_ZMAX + 1):
        shift = 2 * (_PYR_ZMAX - z)
        # integer div (house rule: Spark `div` == DuckDB `//`) — the
        # r12 float-divide was exact only because tile ids fit 12 bits
        lvl = fine.groupBy(
            F.expr(f"tile div {1 << shift}").alias("tile")
        ).agg(F.sum("n").cast("long").alias("n_points")).select(
            F.lit(z).cast("long").alias("zoom"), "tile", "n_points"
        )
        levels = lvl if levels is None else levels.unionAll(lvl)
    return levels
