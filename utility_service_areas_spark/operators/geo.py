"""Geospatial operators (SURVEY.md §2.2): spatial joins, overlap
detection, area ranking, grid-cell dissolve — the README questions of
the reference repo ("do areas overlap, who's largest, who serves this
point") as distributed plans.

Scale design: geometry predicates are verified by Arrow-batched /
cogrouped-pandas passes, but candidate generation is always JVM-side —
bbox columns are plain doubles, and candidates meet either through a
broadcast bbox join (dim-sized polygon side: utility service areas are
thousands of rows) or, with ``grid_cell`` set, through an EQUI-join on
grid-cell indices (the 100 TB path — shuffles on the cell key, no
BNLJ, no vertex shipping). Exact verification cogroups candidates with
their polygon's vertices on a surrogate key, so each polygon's
geometry travels once per group and the ray cast runs numpy-vectorized
over the whole group. Every operator here is lazy: constructing a
plan launches zero Spark jobs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType


BROADCAST_GUARD_BYTES = 128 << 20
"""Default ceiling for the broadcast polygon side's CATALYST ESTIMATE
(ADVICE r5). Catalyst sizes array columns at element defaultSize, so
vertex-heavy rows estimate ~12 bytes: a dim-sized service-area layer
(thousands of rows) estimates ~1 MiB, while 128 MiB ≈ 10M+ rows —
unambiguously a fact table that belongs on the grid_cell path."""


def _broadcast_size_guard(df: DataFrame, op: str, guard_bytes: int | None) -> None:
    """Catalyst plan-size heuristic: the default candidate paths
    broadcast the polygon side, so a caller with a fact-sized polygon
    frame who forgets ``grid_cell`` should get a clear, early error
    pointing at it instead of an executor OOM mid-broadcast. Uses the
    optimizer's driver-side size estimate only — launches no Spark job,
    preserving the zero-jobs-at-construction contract. Best-effort:
    unknown/sentinel estimates never block."""
    if guard_bytes is None:
        return
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return
    # The upper bound skips "unknown" estimates: a LogicalRDD leaf (any
    # createDataFrame/.rdd-derived frame) reports defaultSizeInBytes =
    # Long.MaxValue, which Project ratio-scaling leaves in the EiB
    # range. >1 PiB is no real polygon layer — treat as no-stats.
    if guard_bytes < est < (1 << 50):
        raise ValueError(
            f"{op}: polygon side estimated at ~{est >> 20} MiB, above the "
            f"{guard_bytes >> 20} MiB broadcast guard. Pass grid_cell=<size> to "
            "switch to the grid-cell equi-join path (no broadcast), or raise "
            "broadcast_guard_bytes / pass None if the estimate is wrong."
        )


def _with_pid(polys: DataFrame) -> DataFrame:
    """Attach a surrogate unique polygon key and pin it: the frame is
    lazily localCheckpoint-ed so the id assignment materializes ONCE at
    first action and every consumer subtree (bbox join side, geometry
    cogroup side) reads the same assignment — monotonically_increasing_id
    over a recomputed lineage with an upstream shuffle could otherwise
    differ between subtrees. No job runs at plan-construction time."""
    return polys.withColumn("__pid", F.monotonically_increasing_id()).localCheckpoint(
        eager=False
    )


def rect_geometry(x0: Column, y0: Column, w: Column, h: Column) -> Column:
    """Closed CCW rectangle polygon built entirely JVM-side (no UDF)."""
    pt = lambda x, y: F.array(x.cast("double"), y.cast("double"))  # noqa: E731
    ring = F.array(
        pt(x0, y0), pt(x0 + w, y0), pt(x0 + w, y0 + h), pt(x0, y0 + h), pt(x0, y0)
    )
    return F.array(ring)


def with_bbox_cols(df: DataFrame, geom_col: str = "geometry") -> DataFrame:
    """Flatten bbox to plain double columns so the prefilter join and
    its predicates stay in whole-stage codegen (no UDF, no struct)."""
    xs = F.flatten(F.transform(F.col(geom_col), lambda ring: F.transform(ring, lambda p: F.element_at(p, 1))))
    ys = F.flatten(F.transform(F.col(geom_col), lambda ring: F.transform(ring, lambda p: F.element_at(p, 2))))
    return (
        df.withColumn("xmin", F.array_min(xs))
        .withColumn("xmax", F.array_max(xs))
        .withColumn("ymin", F.array_min(ys))
        .withColumn("ymax", F.array_max(ys))
    )


def _grid_cells(prefix: str, cell: float) -> tuple[Column, Column]:
    """Cell-index ranges a bbox covers (inclusive), as JVM sequences."""
    lo = lambda c: F.floor(F.col(c) / F.lit(cell)).cast("long")  # noqa: E731
    return (
        F.sequence(lo(f"{prefix}xmin"), lo(f"{prefix}xmax")),
        F.sequence(lo(f"{prefix}ymin"), lo(f"{prefix}ymax")),
    )


def points_in_polygons(
    points: DataFrame,
    polygons: DataFrame,
    px: str = "px",
    py: str = "py",
    geom_col: str = "geometry",
    id_col: str | None = None,
    grid_cell: float | None = None,
    broadcast_guard_bytes: int | None = BROADCAST_GUARD_BYTES,
    salt: int | None = None,
) -> DataFrame:
    """Spatial join: which polygon contains each point (README Q3:
    'what utility serves a specific location').

    Plan shape — fully lazy (constructing the DataFrame launches zero
    jobs), fixed output schema (points' columns + ``id_col``)
    regardless of the data:

    - Default (dim-sized polygon side): bbox prefilter against the
      BROADCAST polygon side, exact verify fused into the SAME
      map-side stage. One stage, zero shuffles of the point side.
    - ``grid_cell`` (the 100 TB path, polygon side too big to
      broadcast): each polygon bbox explodes to the grid cells it
      covers, each point maps to exactly one cell, and candidates meet
      in an EQUI-join on the cell key (no BNLJ; each (point, polygon)
      pair meets in exactly one cell — the point's own — so no dedup
      pass). Geometries are then attached by a surrogate-key join and
      verified the same way.

    The verify is the grouped Arrow ray cast
    (functions/geometry.py:st_contains_point_grouped): candidates
    arrive with their polygon's flat vertex encoding (computed once
    per polygon BELOW the join), a JVM-computed geometry hash groups
    each Arrow batch so the numpy kernel runs once per distinct
    polygon over all its points. Measured against a pure-JVM
    higher-order-function verify (an F.aggregate ray cast over the
    edges): the HOF is interpreted per edge per row and loses ~8× at
    10× point volume, while the grouped kernel's per-row cost is a
    vectorized numpy op.

    Duplicate or null ``id_col`` values are sound by construction:
    every polygon ROW participates independently (no keyed collapse).

    Parity: the reference resolves point→service-area membership
    row-at-a-time in native code (R/functions.R:468); the same
    semantics here distribute as candidate join + fused batched verify.
    """
    from utility_service_areas_spark.functions.geometry import (
        flat_geometry_cols,
        st_contains_point_grouped,
    )

    if id_col is None:
        id_col = next(c for c in polygons.columns if c != geom_col)
    out_cols = [*points.columns, id_col]
    ghash, flat, n_verts = flat_geometry_cols(F.col(geom_col))
    polys = (
        with_bbox_cols(polygons.select(id_col, geom_col), geom_col)
        .withColumn("__ghash", ghash)
        .withColumn("__flat", flat)
        .withColumn("__nverts", n_verts)
        .drop(geom_col)
    )
    bbox_pred = (
        (F.col(px) >= F.col("xmin"))
        & (F.col(px) <= F.col("xmax"))
        & (F.col(py) >= F.col("ymin"))
        & (F.col(py) <= F.col("ymax"))
    )
    verify = st_contains_point_grouped(
        F.col("__ghash"), F.col("__flat"), F.col("__nverts"), F.col(px), F.col(py)
    )
    if grid_cell is None:
        _broadcast_size_guard(
            polygons.select(id_col, geom_col), "points_in_polygons", broadcast_guard_bytes
        )
        return (
            points.join(F.broadcast(polys), bbox_pred)
            .filter(verify)
            .select(*out_cols)
        )
    polys = _with_pid(polys)
    slim = polys.select("__pid", id_col, "xmin", "xmax", "ymin", "ymax")
    cxs, cys = _grid_cells("", grid_cell)
    pcells = slim.withColumn("__cx", F.explode(cxs)).withColumn(
        "__cy", F.explode(cys)
    )
    pts = points.withColumn(
        "__cx", F.floor(F.col(px) / F.lit(grid_cell)).cast("long")
    ).withColumn("__cy", F.floor(F.col(py) / F.lit(grid_cell)).cast("long"))
    cell_keys = ["__cx", "__cy"]
    if salt is not None and salt > 1:
        # Skew lever (SURVEY §6): a hot cell — a dense point cluster in
        # one grid cell — funnels all its candidates through ONE reducer
        # of the equi-join. Salting splits the point side of every cell
        # k ways by a deterministic point hash and replicates each
        # polygon cell row k× (cost: k× the exploded polygon frame,
        # which is the SMALL side), so a hot cell fans across k tasks.
        # The alternative is AQE's skew-join split, which also fires on
        # this join at scale (sort-merge side); salt= is the
        # deterministic, plannable form of the same mitigation.
        pts = pts.withColumn(
            "__salt", F.pmod(F.hash(F.col(px), F.col(py)), F.lit(salt))
        )
        pcells = pcells.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        cell_keys = ["__cx", "__cy", "__salt"]
    candidates = (
        pts.join(pcells, cell_keys)
        .filter(bbox_pred)
        .select(*points.columns, id_col, "__pid")
    )
    # Aliases mint fresh attribute ids — the two consumers of the
    # checkpointed polys frame would otherwise trip Spark's
    # ambiguous-self-join check.
    geoms = polys.select(
        F.col("__pid").alias("__gpid"),
        F.col("__ghash").alias("__ghash"),
        F.col("__flat").alias("__flat"),
        F.col("__nverts").alias("__nverts"),
    )
    return (
        candidates.join(geoms, F.col("__pid") == F.col("__gpid"))
        .filter(verify)
        .select(*out_cols)
    )


def polygon_overlap_pairs(
    polygons: DataFrame,
    id_col: str,
    geom_col: str = "geometry",
    grid_cell: float | None = None,
    broadcast_guard_bytes: int | None = BROADCAST_GUARD_BYTES,
) -> DataFrame:
    """Self-join overlap detection (README Q1: 'do service areas
    overlap?'). Returns distinct (id_a, id_b) with id_a < id_b.

    Fully lazy (zero jobs at plan construction). Two candidate paths:

    - Default (dim-sized polygon side): bbox self-join with the right
      side BROADCAST; geometries ride in the candidate rows (the pair
      count is bbox-pruned, so per-candidate vertex transfer is small
      at this cardinality).
    - ``grid_cell`` (the 100 TB path): both sides explode their bbox
      cell ranges and meet in an EQUI-join on the cell key — no BNLJ,
      no vertex shipping in the candidate join. A bbox pair spanning
      several shared cells is emitted only in its REFERENCE cell (the
      cell of the overlap region's min corner), so candidates are
      exactly-once without a distinct shuffle. Geometries are attached
      afterwards by two surrogate-key joins against the slim polygon
      frame, then verified.

    Duplicate ids: each polygon ROW participates independently (surrogate
    key under the hood); the final distinct collapses repeated id pairs.
    """
    from utility_service_areas_spark.functions.geometry import polygons_intersect

    base = with_bbox_cols(polygons.select(id_col, geom_col), geom_col)
    p = base if grid_cell is None else _with_pid(base)

    def _nested(g):
        return [[list(pt) for pt in ring] for ring in g]

    @F.pandas_udf(BooleanType())
    def _intersects_rows(ga: pd.Series, gb: pd.Series) -> pd.Series:
        return pd.Series(
            [polygons_intersect(_nested(x), _nested(y)) for x, y in zip(ga, gb)]
        )

    def side(tag: str, with_geom: bool) -> DataFrame:
        cols = [
            F.col(id_col).alias(f"id_{tag}"),
            F.col("xmin").alias(f"{tag}xmin"),
            F.col("xmax").alias(f"{tag}xmax"),
            F.col("ymin").alias(f"{tag}ymin"),
            F.col("ymax").alias(f"{tag}ymax"),
        ]
        if not with_geom:  # grid path: surrogate key instead of vertices
            cols.append(F.col("__pid").alias(f"__p{tag}"))
        else:
            cols.append(F.col(geom_col).alias(f"geom_{tag}"))
        return p.select(*cols)

    pair_pred = (
        (F.col("id_a") < F.col("id_b"))
        & (F.col("axmin") <= F.col("bxmax"))
        & (F.col("bxmin") <= F.col("axmax"))
        & (F.col("aymin") <= F.col("bymax"))
        & (F.col("bymin") <= F.col("aymax"))
    )
    if grid_cell is None:
        _broadcast_size_guard(
            polygons.select(id_col, geom_col),
            "polygon_overlap_pairs",
            broadcast_guard_bytes,
        )
        cand = side("a", True).join(F.broadcast(side("b", True)), pair_pred)
    else:
        cell = float(grid_cell)

        def gridded(tag: str) -> DataFrame:
            cxs, cys = _grid_cells(tag, cell)
            return (
                side(tag, False)
                .withColumn("__cx", F.explode(cxs))
                .withColumn("__cy", F.explode(cys))
            )

        ref = lambda lo_a, lo_b: F.floor(  # noqa: E731
            F.greatest(F.col(lo_a), F.col(lo_b)) / F.lit(cell)
        ).cast("long")
        cand = (
            gridded("a")
            .join(gridded("b"), ["__cx", "__cy"])
            .filter(pair_pred)
            .filter(
                (F.col("__cx") == ref("axmin", "bxmin"))
                & (F.col("__cy") == ref("aymin", "bymin"))
            )
        )
        geoms = p.select("__pid", geom_col)
        cand = cand.select("id_a", "id_b", "__pa", "__pb").join(
            geoms.select(
                F.col("__pid").alias("__pa"), F.col(geom_col).alias("geom_a")
            ),
            "__pa",
        ).join(
            geoms.select(
                F.col("__pid").alias("__pb"), F.col(geom_col).alias("geom_b")
            ),
            "__pb",
        )
    return (
        cand.filter(_intersects_rows(F.col("geom_a"), F.col("geom_b")))
        .select("id_a", "id_b")
        .distinct()
    )


def grid_union_area(
    cells: DataFrame, group_col: str, cell_col: str, cell_area: float = 1.0
) -> DataFrame:
    """Dissolve/union of grid-aligned cells per group: union area of
    identical-grid cells is exactly (distinct cells) × cell area.

    Parity: st_union of PLSS section cells (R/functions.R:406) — the
    reference unions 1-sq-mi grid rectangles; on a shared grid the
    dissolve is a distinct-count, which distributes as a single
    partial-aggregated shuffle instead of a geometry reduce.
    """
    return cells.groupBy(group_col).agg(
        F.countDistinct(cell_col).alias("n_cells"),
        (F.countDistinct(cell_col) * F.lit(cell_area)).alias("union_area"),
    )


def dissolve_polygons(
    groups: DataFrame, group_col: str, geom_col: str = "geometry"
) -> DataFrame:
    """TRUE st_union dissolve per group: each group's polygons are
    folded through the planar overlay (functions/geometry.py) inside
    an applyInPandas pass — the distributed shape of the reference's
    `st_union` (R/functions.R:406,431) for geometries that are NOT
    grid-aligned (overlaps merge, shared boundaries vanish).

    Returns (group_col, n_input_polygons, union_geometry). Scale
    posture: one shuffle on the group key; the O(E^2) overlay cost is
    per group and bounded by that group's polygon count — keep groups
    at certificate granularity (dozens of polygons), never corpus
    granularity. Grid-aligned inputs should use grid_union_area
    (distinct-count, no geometry reduce at all).
    """
    import pandas as pd  # local: executors import lazily

    from pyspark.sql.types import ArrayType, DoubleType

    from utility_service_areas_spark.functions.geometry import union_all

    # Key type derives from the input — the reference dissolves on
    # certificate STRINGS (R/functions.R:471), not just numeric keys.
    out_schema = StructType(
        [
            groups.schema[group_col],
            StructField("n_input_polygons", LongType()),
            StructField(
                "union_geometry",
                ArrayType(ArrayType(ArrayType(ArrayType(DoubleType())))),
            ),
        ]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[group_col].iloc[0]
        polys = [[list(map(list, ring)) for ring in poly] for poly in pdf[geom_col]]
        return pd.DataFrame(
            {
                group_col: [key],
                "n_input_polygons": [len(polys)],
                "union_geometry": [union_all(polys)],
            }
        )

    return groups.select(group_col, geom_col).groupBy(group_col).applyInPandas(
        fold, out_schema
    )
