"""Distributed top-principal-component fit via power iteration — the
projection step training-data pipelines use for embedding whitening,
diversity scoring, and the "dominant direction" diagnostics behind
SemDeDup-style curation.

Spark-first shape per iteration (same posture as operators/kmeans.py):
  1. score: the current direction v is broadcast as a literal array;
     w = (x − μ)·v is a pure-JVM sequential double fold — the corpus
     is never shuffled.
  2. update: per-dimension sums of w·(x_j − μ_j) partial-agg through
     ONE posexplode → groupBy(dim); only `dim` rows reach the driver
     to normalize the next direction.

Determinism / replayability: every cross-row float sum is quantized
to micros-BIGINT first (integer addition is order-independent, so the
fit is bit-identical across partitionings AND replayable by the
DuckDB oracle, exactly like kmeans_fit_assign); within-row dot
products are sequential double folds; normalization divides by an
IEEE-exact sqrt. v0 is the fixed vector (1/√dim, …) — seedless, and
1/√64 = 0.125 is float-exact for the substrate's dim.

Convergence is fixed n_iter, not a tolerance: at 100 TB you run a
few passes (each ONE distributed agg) and take the direction you
have — the projection pass is the same single map-side fold either
way. Power iteration's sign is arbitrary but deterministic given v0.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot_expr(vec_col: str, lit_vec: list[float]) -> F.Column:
    """Sequential double fold of vec·lit — operand order (a*b, then
    left-to-right accumulation from 0.0) mirrored by the oracle's
    list_sum(list_transform(...))."""
    lit = F.array(*[F.lit(float(x)) for x in lit_vec])
    return F.aggregate(
        F.zip_with(F.col(vec_col), lit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _centered(df: DataFrame, id_col: str, vec_col: str, dim: int) -> DataFrame:
    """(id, vec, cvec): the vectors as doubles and centered on their
    micros-exact mean, mu_j = (sum(round(x*1e6)) / 1e6) / n — one
    distributed agg; only `dim` rows reach the driver."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    stats = (
        base.select(F.posexplode("vec").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.sum(F.round(F.col("x") * 1_000_000).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    by_dim = {r.dim: (r.s, r.n) for r in stats}
    mu = [(by_dim[d][0] / 1_000_000.0) / by_dim[d][1] for d in range(dim)]
    mu_lit = F.array(*[F.lit(float(m)) for m in mu])
    return base.withColumn(
        "cvec", F.zip_with(F.col("vec"), mu_lit, lambda a, b: a - b)
    )


def power_iteration_top_pc(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_iter: int = 4,
) -> tuple[DataFrame, list[float]]:
    """((id, pc1_micros), v) — per-row projection onto the top
    principal component of the MEAN-CENTERED vectors after n_iter
    power-iteration rounds, plus the fitted direction itself.

    Each round runs ONE distributed aggregation; direction state
    (`dim` doubles) is the only data that ever reaches the driver.
    """
    centered = _centered(df, id_col, vec_col, dim)
    v = _fit_direction(centered, "cvec", dim, n_iter)
    proj = centered.select(
        "id",
        F.round(_dot_expr("cvec", v) * 1_000_000).cast("long").alias("pc1_micros"),
    )
    return proj, v


def _fit_direction(
    frame: DataFrame, vec_field: str, dim: int, n_iter: int
) -> list[float]:
    """n_iter power-iteration rounds over `frame[vec_field]` (already
    centered/deflated by the caller); each round is ONE distributed
    posexplode agg with micros-BIGINT per-dim sums."""
    v = [1.0 / math.sqrt(dim)] * dim
    for _ in range(n_iter):
        w = _dot_expr(vec_field, v)
        sums = (
            frame.withColumn("w", w)
            .select("w", F.posexplode(vec_field).alias("dim", "x"))
            .groupBy("dim")
            .agg(
                F.sum(
                    F.round(F.col("w") * F.col("x") * 1_000_000).cast("long")
                ).alias("s")
            )
            .collect()
        )
        s_by_dim = {r.dim: r.s for r in sums}
        u = [s_by_dim.get(d, 0) / 1_000_000.0 for d in range(dim)]
        norm2 = 0.0
        for y in u:
            norm2 += y * y
        nrm = math.sqrt(norm2)
        if nrm == 0.0:  # degenerate input (all rows equal); keep v
            break
        v = [y / nrm for y in u]
    return v


def power_iteration_two_pc(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_iter: int = 4,
) -> tuple[DataFrame, list[float], list[float]]:
    """((id, pc1_micros, pc2_micros), v1, v2) — the 2-D curation map:
    v1 fit as in power_iteration_top_pc, then Hotelling deflation
    (cvec2 = cvec − (cvec·v1)·v1, a pure map-side zip_with — no new
    shuffle) and an identical fit for v2 on the deflated frame. The
    deflated data keeps the (quantized-)zero mean, so the second fit
    does not re-center; v2 is orthogonal to v1 up to the micros
    quantization of the update sums."""
    centered = _centered(df, id_col, vec_col, dim)
    v1 = _fit_direction(centered, "cvec", dim, n_iter)
    v1_lit = F.array(*[F.lit(float(x)) for x in v1])
    deflated = centered.withColumn("w1", _dot_expr("cvec", v1)).withColumn(
        "cvec2",
        F.zip_with(F.col("cvec"), v1_lit, lambda a, b: a - F.col("w1") * b),
    )
    # Materialize the deflated doubles ONCE. cvec2 is a stack of
    # INTERPRETED higher-order expressions (zip_with over zip_with
    # plus the w1 fold); without the cut every v2 round AND the final
    # projection re-evaluate that stack per row — measured 93.5 s vs
    # 10.9 s at 10x (BENCH_TREND r9). Materialization does not change
    # a bit: the frame holds finished doubles either way.
    from utility_service_areas_spark.operators.dedup import lineage_cut

    deflated = lineage_cut(deflated.select("id", "w1", "cvec2"))
    v2 = _fit_direction(deflated, "cvec2", dim, n_iter)

    proj = deflated.select(
        "id",
        F.round(F.col("w1") * 1_000_000).cast("long").alias("pc1_micros"),
        F.round(_dot_expr("cvec2", v2) * 1_000_000)
        .cast("long")
        .alias("pc2_micros"),
    )
    return proj, v1, v2
