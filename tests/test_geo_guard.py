"""Soundness + laziness guard rails for the spatial-join operators.

History: rounds 2-4 used a driver-collected {id: rings} broadcast dict,
which needed duplicate-id/null-id/row-cap fallbacks AND ran a Spark job
at plan-construction time. The current design (surrogate polygon key +
cogrouped vectorized verify) is sound for ANY id column by
construction; these tests pin that, pin zero-jobs-at-construction, and
pin the grid-bucketed candidate path (the >100k-polygon scale path)
against the broadcast path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from utility_service_areas_spark.operators.geo import (
    points_in_polygons,
    polygon_overlap_pairs,
    rect_geometry,
)
from utility_service_areas_spark.plans.registry import physical_plan


def _rects(spark, rows):
    """rows: (id, x0, y0, w, h) -> (id, geometry) frame."""
    df = spark.createDataFrame(rows, ["pid", "x0", "y0", "w", "h"])
    return df.select(
        "pid",
        rect_geometry(F.col("x0"), F.col("y0"), F.col("w"), F.col("h")).alias(
            "geometry"
        ),
    )


def test_duplicate_ids_both_geometries_verified(spark):
    # Two DISTINCT rectangles share id=1; collapsing them onto one key
    # would wrongly fail the point inside the losing rectangle.
    polys = _rects(spark, [(1, 0.0, 0.0, 1.0, 1.0), (1, 10.0, 10.0, 1.0, 1.0),
                           (2, 20.0, 20.0, 1.0, 1.0)])
    pts = spark.createDataFrame(
        [(100, 0.5, 0.5), (101, 10.5, 10.5), (102, 50.0, 50.0)],
        ["point_id", "px", "py"],
    )
    got = {
        (r.point_id, r.pid)
        for r in points_in_polygons(pts, polys, id_col="pid").collect()
    }
    assert got == {(100, 1), (101, 1)}  # BOTH id-1 rectangles matched

    pairs = polygon_overlap_pairs(polys, "pid")
    # the two id-1 rects don't overlap each other (and same-id pairs are
    # excluded anyway); nothing overlaps id 2.
    assert pairs.collect() == []


def test_duplicate_id_pairs_distinct(spark):
    # Two identical id-1 rects both overlap id-2: the (1, 2) pair must
    # come out ONCE (ADVICE r4: the old row path emitted it per row).
    polys = _rects(spark, [(1, 0.0, 0.0, 2.0, 2.0), (1, 0.0, 0.0, 2.0, 2.0),
                           (2, 1.0, 1.0, 2.0, 2.0)])
    pairs = polygon_overlap_pairs(polys, "pid").collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]


def test_null_id_still_verifies(spark):
    polys = _rects(spark, [(1, 0.0, 0.0, 1.0, 1.0)]).unionByName(
        _rects(spark, [(7, 5.0, 5.0, 1.0, 1.0)]).withColumn(
            "pid", F.lit(None).cast("long")
        )
    )
    pts = spark.createDataFrame([(100, 5.5, 5.5)], ["point_id", "px", "py"])
    out = points_in_polygons(pts, polys, id_col="pid").collect()
    assert len(out) == 1 and out[0].point_id == 100 and out[0].pid is None


def test_output_schema_fixed_and_construction_lazy(spark):
    polys = _rects(spark, [(1, 0.0, 0.0, 1.0, 1.0), (1, 2.0, 0.0, 1.0, 1.0)])
    pts = spark.createDataFrame([(100, 0.5, 0.5)], ["point_id", "px", "py"])
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    dup = points_in_polygons(pts, polys, id_col="pid")
    uniq = points_in_polygons(
        pts, _rects(spark, [(1, 0.0, 0.0, 1.0, 1.0)]), id_col="pid"
    )
    over = polygon_overlap_pairs(polys, "pid")
    after = len(tracker.getJobIdsForGroup(None) or [])
    # constructing all three plans launched zero Spark jobs
    assert after == before
    # schema is data-independent: duplicate-id and unique-id inputs agree
    assert dup.columns == uniq.columns == ["point_id", "px", "py", "pid"]
    assert over.columns == ["id_a", "id_b"]


def test_broadcast_guard_rejects_fact_sized_polygon_side(spark):
    """ADVICE r5: a fact-sized polygon side on the default (broadcast)
    path must fail EARLY with a message pointing at grid_cell, not OOM
    mid-broadcast. The guard is Catalyst's driver-side size estimate —
    no Spark job — and is off when grid_cell or guard=None is passed."""
    import pytest

    from pyspark.sql import functions as F

    big = spark.range(30_000_000).select(
        F.col("id").alias("pid"),
        rect_geometry(
            F.col("id").cast("double"), F.lit(0.0), F.lit(1.0), F.lit(1.0)
        ).alias("geometry"),
    )
    pts = spark.createDataFrame([(1, 0.5, 0.5)], ["point_id", "px", "py"])
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    with pytest.raises(ValueError, match="grid_cell"):
        points_in_polygons(pts, big, id_col="pid")
    with pytest.raises(ValueError, match="grid_cell"):
        polygon_overlap_pairs(big, "pid")
    # the guard itself launches no jobs, and both escapes still construct
    points_in_polygons(pts, big, id_col="pid", broadcast_guard_bytes=None)
    points_in_polygons(pts, big, id_col="pid", grid_cell=2.0)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before


def test_grid_path_equals_broadcast_path(spark):
    # Irregular layout incl. negative coords and multi-cell bboxes.
    rows = [
        (i, float(3 * (i % 7)) - 5.0, float(2 * (i // 7)) - 3.0,
         2.0 + (i % 3), 1.5 + (i % 2))
        for i in range(40)
    ]
    polys = _rects(spark, rows)
    pts = spark.createDataFrame(
        [(i, -6.0 + (i * 37 % 200) * 0.125, -4.0 + (i * 53 % 120) * 0.125)
         for i in range(300)],
        ["point_id", "px", "py"],
    )
    base = {
        (r.point_id, r.pid)
        for r in points_in_polygons(pts, polys, id_col="pid").collect()
    }
    grid = {
        (r.point_id, r.pid)
        for r in points_in_polygons(
            pts, polys, id_col="pid", grid_cell=4.0
        ).collect()
    }
    assert grid == base and len(base) > 0

    base_pairs = {
        (r.id_a, r.id_b) for r in polygon_overlap_pairs(polys, "pid").collect()
    }
    grid_pairs = {
        (r.id_a, r.id_b)
        for r in polygon_overlap_pairs(polys, "pid", grid_cell=4.0).collect()
    }
    assert grid_pairs == base_pairs and len(base_pairs) > 0


def test_salted_grid_path_equals_unsalted_under_pathological_skew(spark):
    """Skew lever (SURVEY §6 / VERDICT r5 #4): 90% of points in ONE
    grid cell. The salted plan must (a) keep the equi-join (salt key
    included, no BNLJ), and (b) return exactly the unsalted result."""
    from pyspark.sql import functions as F

    polys = _rects(spark, [(i, float(2 * (i % 5)), float(2 * (i // 5)), 1.9, 1.9)
                           for i in range(25)])
    # 90% of points crammed into polygon 0's cell, rest spread out
    hot = spark.range(1800).select(
        F.col("id").alias("point_id"),
        (F.col("id") % 19 * 0.1).alias("px"),
        (F.col("id") % 17 * 0.1).alias("py"),
    )
    cold = spark.range(1800, 2000).select(
        F.col("id").alias("point_id"),
        ((F.col("id") % 5) * 2.0 + 0.5).alias("px"),
        ((F.col("id") % 25) / 5 * 2.0 + 0.5).alias("py"),
    )
    pts = hot.unionByName(cold)
    base = {
        (r.point_id, r.pid)
        for r in points_in_polygons(pts, polys, id_col="pid", grid_cell=2.0).collect()
    }
    salted_df = points_in_polygons(
        pts, polys, id_col="pid", grid_cell=2.0, salt=8
    )
    plan = physical_plan(salted_df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "__salt" in plan  # the salt key made it into the join
    salted = {(r.point_id, r.pid) for r in salted_df.collect()}
    assert salted == base and len(base) > 0


def test_grid_path_plans_equi_join_no_bnlj(spark):
    # The >100k-polygon scale path: candidate generation must be an
    # equi-join on the grid-cell key — no broadcast nested loop, no
    # cartesian product, and no vertex arrays in the candidate join.
    n = 120_000
    polys = spark.range(n).select(
        F.col("id").alias("pid"),
        rect_geometry(
            (F.col("id") % 1000).cast("double") * 2.0,
            (F.col("id") / 1000).cast("double"),
            F.lit(1.5),
            F.lit(1.5),
        ).alias("geometry"),
    )
    pts = spark.range(2000).select(
        F.col("id").alias("point_id"),
        ((F.col("id") % 1000) * 2.0 + 0.5).alias("px"),
        ((F.col("id") / 500) + 0.25).alias("py"),
    )
    joined = points_in_polygons(pts, polys, id_col="pid", grid_cell=2.0)
    plan = physical_plan(joined)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # spot-check containment: point k sits in polygon (py row band)
    sample = joined.filter(F.col("point_id") == 42).collect()
    assert all(r.pid is not None for r in sample)
