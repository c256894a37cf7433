"""Distributed Lloyd's k-means over an embedding column — the
clustering step training-data pipelines use for curation (domain
balancing, dedup-by-cluster, coreset selection).

Spark-first shape per iteration:
  1. assignment: centroids broadcast as a literal array expression;
     the distance argmin is pure JVM (`aggregate` over a zipped
     array) — the corpus is never shuffled.
  2. update: per-dimension partial-agged sums via posexplode →
     groupBy(cluster, dim) — the same numerator plan as
     `embedding_centroid_by_label`; only k×dim rows reach the driver
     to build the next broadcast.

Determinism: init picks the k vectors with the smallest md5(vec_id) —
seedless, stable across runs/partitionings. Convergence is fixed
`n_iter` (k-means cost is monotone non-increasing; tests pin it) —
at 100 TB you run few iterations over a sample, then one assignment
pass over the corpus, exactly this operator's shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dist2_expr(vec_col: str, centroid: list[float]) -> F.Column:
    """Squared L2 distance vec↔centroid, JVM-side: zip_with + aggregate
    (sequential double fold, deterministic)."""
    lit = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(F.col(vec_col), lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    # argmin via array_position of the min: first match wins, so ties
    # break toward the lowest cluster index — deterministic.
    dists = F.array(*[_dist2_expr(vec_col, c) for c in centroids])
    return (
        df.withColumn("__d", dists)
        .withColumn(
            "cluster",
            (F.array_position(F.col("__d"), F.array_min(F.col("__d"))) - 1).cast("long"),
        )
        .drop("__d")
    )


def kmeans_fit_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 5,
) -> DataFrame:
    """(id, cluster, dist2_micros) after n_iter Lloyd rounds.

    Each round runs ONE distributed agg; centroid state (k×dim
    doubles) is the only data that ever reaches the driver.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    seeds = (
        base.withColumn("__h", F.md5(F.col("id").cast("string")))
        .orderBy("__h")
        .limit(k)
        .select("vec")
        .collect()
    )
    centroids = [list(r.vec) for r in seeds]
    for _ in range(n_iter):
        assigned = _assign(base, "vec", centroids)
        # Per-dim sums are micros-BIGINTS, not doubles: integer addition
        # is order-independent, so the next centroid is bit-identical
        # regardless of partial-agg combine order — which makes the
        # whole fit replayable (run-to-run AND by the SQL oracle).
        stats = (
            assigned.select("cluster", F.posexplode("vec").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(
                F.sum(F.round(F.col("x") * 1_000_000).cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cluster: dict[int, dict[int, int]] = {}
        counts: dict[int, int] = {}
        for r in stats:
            by_cluster.setdefault(r.cluster, {})[r.dim] = r.s
            counts[r.cluster] = r.n
        for ci in range(len(centroids)):
            if ci in by_cluster:
                dims = by_cluster[ci]
                centroids[ci] = [
                    (dims[d] / 1_000_000.0) / counts[ci]
                    for d in range(len(centroids[ci]))
                ]
            # empty cluster keeps its previous centroid
    final = _assign(base, "vec", centroids)
    mind = F.array_min(F.array(*[_dist2_expr("vec", c) for c in centroids]))
    return final.select(
        "id",
        "cluster",
        F.round(mind * 1_000_000).cast("long").alias("dist2_micros"),
    )


def _np_half_away(v):
    """round-half-away-from-zero on doubles. Spark's round() (BigDecimal
    HALF_UP on the shortest-decimal rendering) and DuckDB's round()
    agree with this at integer scale for every value the micros
    pipeline produces — PINNED EMPIRICALLY by the kernel-equality
    pytest and the 3-SF oracle runs, not bit-identical by construction:
    at exact .5 boundaries BigDecimal-on-rendered-decimal can disagree
    with binary-double floor(+0.5) (see operators/text.py). numpy's own
    round is banker's, wrong at .5 either way."""
    import numpy as np

    return np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5))


def _np_assign(vec_batch, centroids):
    """(cluster index, per-pair dist2 matrix) for one numpy batch.

    Bitwise-equal to _dist2_expr + array_position argmin: the squared
    distance accumulates SEQUENTIALLY over dimensions (vectorized over
    the batch×k plane — identical fp order to the JVM fold), and
    np.argmin returns the FIRST minimum, matching array_position's
    first-match tie-break toward the lowest cluster index.
    """
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)  # k×d
    acc = np.zeros((len(vec_batch), len(C)))
    for j in range(C.shape[1]):
        d = vec_batch[:, j][:, None] - C[:, j][None, :]
        acc += d * d
    return np.argmin(acc, axis=1), acc


def _np_final_assign(base: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Final (id, cluster, dist2_micros) pass, numpy-blocked; micros
    via round-half-away of the sequential-fold distance — the same
    double F.round saw."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("cluster", LongType()),
            StructField("dist2_micros", LongType()),
        ]
    )

    def final_batches(batches):
        for pdf in batches:
            X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            if not len(X):
                continue
            cl, dists = _np_assign(X, centroids)
            mind = np.min(dists, axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "cluster": cl,
                    "dist2_micros": _np_half_away(mind * 1_000_000.0).astype(
                        np.int64
                    ),
                }
            )

    return base.select("id", "vec").mapInPandas(final_batches, schema)


def kmeans_fit_assign_np(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 5,
) -> DataFrame:
    """kmeans_fit_assign with both the per-iteration sufficient-stat
    pass and the final assignment as blocked-numpy kernels — one
    mapInPandas per Lloyd round emitting k×(d+1) partial rows per
    Arrow batch instead of a corpus-sized posexplode shuffle, and the
    same-bit centroid trajectory (integer micros sums; assignment fold
    order identical), so the SQL oracle of the JVM path verifies this
    path unchanged. Measured 11.5 s → see BENCH_TREND r7.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    (centroids,) = fit_centroids_np_multi(base, k, n_iter, 1)
    if not centroids:  # empty corpus → empty assignment, not a crash
        return _np_final_assign(base, [[0.0]]).limit(0)
    return _np_final_assign(base, centroids)


def _np_iter_stats_multi(
    base: DataFrame, books: list[list[list[float]]], sub: int
):
    """One Lloyd round's sufficient statistics for ALL m subspaces in
    ONE blocked numpy pass: per-(sub, cluster, dim) micros-bigint sums
    (dim = -1 carries the count) — the posexplode + corpus-sized
    shuffle per iteration becomes m×k×(sub+1) partial rows per Arrow
    batch. Element micros are round-half-away (the same value Spark's
    F.round produces on this substrate — see _np_half_away on the
    .5-boundary caveat) and quantize elementwise (slice-before or
    slice-after is the same), _np_assign sees exactly the sliced
    values, and the integer partial sums are combine-order
    independent — so the driver-side centroid trajectory equals m
    independent fits, and for m=1 the JVM path's (pinned empirically:
    tests/test_ann_kernels.py)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    m = len(books)
    schema = StructType(
        [
            StructField("sub", LongType()),
            StructField("cluster", LongType()),
            StructField("dim", LongType()),
            StructField("s", LongType()),
        ]
    )

    def stats_batches(batches):
        for pdf in batches:
            X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            if not len(X):
                continue
            micros = _np_half_away(X * 1_000_000.0).astype(np.int64)
            out_sub, out_c, out_d, out_s = [], [], [], []
            for si in range(m):
                lo = si * sub
                Xs = X[:, lo : lo + sub]
                cl, _ = _np_assign(Xs, books[si])
                ms = micros[:, lo : lo + sub]
                for ci in range(len(books[si])):
                    mask = cl == ci
                    n = int(mask.sum())
                    if not n:
                        continue
                    sums = ms[mask].sum(axis=0)
                    out_sub.extend([si] * (sub + 1))
                    out_c.extend([ci] * (sub + 1))
                    out_d.extend(list(range(sub)) + [-1])
                    out_s.extend(list(sums) + [n])
            yield pd.DataFrame(
                {"sub": out_sub, "cluster": out_c, "dim": out_d, "s": out_s}
            )

    return base.select("vec").mapInPandas(stats_batches, schema)


def fit_centroids_np_multi(
    base: DataFrame, k: int, n_iter: int, m: int
) -> list[list[list[float]]]:
    """The numpy Lloyd fit loop: md5-seeded init + n_iter blocked-numpy
    sufficient-stat rounds, returning one k×(dim/m) codebook per
    subspace (driver state). ``base`` must already carry (id, vec)
    columns; m=1 fits the whole space (kmeans_fit_assign_np,
    kmeans_cluster_quality), m>1 the product-quantization subspaces
    (operators/ann.py:pq_encode). All m fits are FUSED: one seed
    collect and ONE corpus pass per round for every subspace, instead
    of m x (n_iter + 1) passes, with codebooks bit-identical to m
    independent m=1 fits over the sliced frames (pinned in
    tests/test_ann_kernels.py): the md5(id) seed order is the same
    rows for every subspace, the per-batch numpy arithmetic per
    subspace matches a fit over the sliced frame exactly, and the
    integer micros sums are combine-order independent, so the SQL
    replay chains (_kmeans_cte_sql per subspace) verify the fused
    path unchanged."""
    seeds = (
        base.withColumn("__h", F.md5(F.col("id").cast("string")))
        .orderBy("__h")
        .limit(k)
        .select("vec")
        .collect()
    )
    full = [list(r.vec) for r in seeds]
    if not full:
        return [[] for _ in range(m)]
    dim = len(full[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = [
        [row[si * sub : (si + 1) * sub] for row in full] for si in range(m)
    ]
    for _ in range(n_iter):
        stats = (
            _np_iter_stats_multi(base, books, sub)
            .groupBy("sub", "cluster", "dim")
            .agg(F.sum("s").alias("s"))
            .collect()
        )
        per_sub: dict[int, dict[int, dict[int, int]]] = {}
        counts: dict[int, dict[int, int]] = {}
        for r in stats:
            if r.dim == -1:
                counts.setdefault(r.sub, {})[r.cluster] = r.s
            else:
                per_sub.setdefault(r.sub, {}).setdefault(r.cluster, {})[
                    r.dim
                ] = r.s
        for si in range(m):
            by_cluster = per_sub.get(si, {})
            cnt = counts.get(si, {})
            for ci in range(len(books[si])):
                if ci in by_cluster:
                    dims = by_cluster[ci]
                    books[si][ci] = [
                        (dims[d] / 1_000_000.0) / cnt[ci] for d in range(sub)
                    ]
    return books
