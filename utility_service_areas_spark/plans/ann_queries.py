"""SURVEY.md §2.4 — similarity search over the embeddings table.

The oracle mirrors the Spark dot product as the same sequential
DOUBLE fold (list_sum of a list_transform), so both sides agree
bitwise before the micros rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from utility_service_areas_spark.operators.ann import (
    brute_force_topk,
    embedding_cosine_pairs,
    lsh_topk,
)
from utility_service_areas_spark.plans.registry import query
from utility_service_areas_spark.sources.tables import load_table
from utility_service_areas_spark.operators.localrel import local_df

N_QUERIES = 5  # vec_id < 5 are the probe queries
TOP_K = 10

_DOT = """list_sum(list_transform(generate_series(1, len({a})),
                   i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"""


def _cos_micros_sql(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b)
    na = _DOT.format(a=a, b=a)
    nb = _DOT.format(a=b, b=b)
    return f"CAST(round({dot} / (sqrt({na}) * sqrt({nb})) * 1000000) AS BIGINT)"


def _lsh_bucket_sql(vec: str, dim: int = 64, n_planes: int = 4) -> str:
    """Bucket-bit SQL mirroring hyperplane_lsh_bucket: the SAME
    md5-derived coefficients (lsh_plane_coeffs) inlined as list
    literals, the same sequential double fold, the same >= 0 sign.
    The literal is zipped OUTSIDE the lambda: DuckDB re-evaluates a
    literal inside a lambda body for every element (1.6 s to bucket
    500 vectors on 6 planes, against 0.03 s zipped)."""
    from utility_service_areas_spark.operators.ann import lsh_plane_coeffs

    bits = []
    for coeffs in lsh_plane_coeffs(dim, n_planes):
        lits = "[" + ", ".join(str(c) for c in coeffs) + "]"
        proj = (
            f"list_sum(list_transform(list_zip({vec}[1:{dim}], {lits}), "
            f"p -> p[1]::DOUBLE * p[2]::DOUBLE))"
        )
        bits.append(f"(CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


def _lsh_probes_sql(bucket: str, n_planes: int) -> str:
    """Multi-probe list: the bucket itself plus every Hamming-1
    neighbor, mirroring operators/ann.py::lsh_topk's probe array."""
    flips = [
        f"substr({bucket}, 1, {i}) || "
        f"(CASE WHEN substr({bucket}, {i + 1}, 1) = '1' THEN '0' ELSE '1' END)"
        f" || substr({bucket}, {i + 2}, {n_planes})"
        for i in range(n_planes)
    ]
    return "[" + ", ".join([bucket] + flips) + "]"


@query(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id,
                  {_cos_micros_sql('q_vec', 'c_vec')} AS sim_micros
           FROM q JOIN c ON query_id <> neighbor_id)
    SELECT query_id, neighbor_id, rank, sim_micros FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY sim_micros DESC, neighbor_id ASC) AS BIGINT) AS rank
      FROM scored)
    WHERE rank <= {TOP_K}
    """,
    doc="Brute-force cosine top-k (exact ANN baseline): broadcast query "
    "set, corpus never shuffled, per-partition TopK fold.",
    tags=("ann", "bench"),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return brute_force_topk(emb, queries, k=TOP_K)


@query(
    "ann_lsh_topk",
    # The md5-derived plane coefficients are inlined as list literals
    # on BOTH sides (lsh_plane_coeffs), so even this "approximate"
    # path is value-verified: approximate refers to recall vs brute
    # force (still pytest-bounded), not to nondeterminism.
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {_lsh_bucket_sql("embedding")} AS bucket
      FROM embeddings),
    q AS (SELECT query_id, q_vec, pb AS bucket FROM (
            SELECT vec_id AS query_id, embedding AS q_vec, bucket
            FROM b WHERE vec_id < {N_QUERIES}),
          unnest({_lsh_probes_sql("bucket", 4)}) AS t(pb)),
    c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec, bucket FROM b),
    scored AS (
      SELECT query_id, neighbor_id,
             {_cos_micros_sql('q_vec', 'c_vec')} AS sim_micros
      FROM c JOIN q USING (bucket)
      WHERE query_id <> neighbor_id)
    SELECT query_id, neighbor_id, rank, sim_micros FROM (
      SELECT query_id, neighbor_id, sim_micros,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY sim_micros DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored)
    WHERE rank <= {TOP_K}
    """,
    doc="Random-hyperplane LSH bucketed ANN: candidates limited to the "
    "query's bucket, exact rerank inside. The 100 TB scale path. "
    "Plane coefficients are md5-derived integers (operators/ann.py "
    "lsh_plane_coeffs) inlined identically into the DuckDB oracle, so "
    "buckets, candidates, ranks and sims are all value-verified.",
    tags=("ann",),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    # 4 planes → 16 buckets: ≈ n/16 candidates per query at any scale,
    # coarse enough for usable recall on the small test corpus.
    return lsh_topk(emb, queries, dim=64, k=TOP_K, n_planes=4)


_IVF_SCORE = "(list_sum(list_transform(generate_series(1, len(embedding)), i -> embedding[i]::DOUBLE * cent_vec[i]::DOUBLE))) / cent_n"
_CENT_NORM = "sqrt(list_sum(list_transform(generate_series(1, len(cent_vec)), i -> cent_vec[i]::DOUBLE * cent_vec[i]::DOUBLE)))"


@query(
    "ann_ivf_topk",
    # Deterministic end to end (stride-sampled centroids, argmax
    # assignment with id tiebreak, fixed probes), so the whole IVF
    # path is value-verified; "approximate" refers to recall vs brute
    # force (pytest-bounded), not nondeterminism.
    oracle=f"""
    WITH cents0 AS (
      SELECT vec_id AS cent_id, embedding AS cent_vec
      FROM embeddings WHERE vec_id % 37 = 0 ORDER BY vec_id LIMIT 16),
    cents AS (
      SELECT cent_id, cent_vec, {_CENT_NORM} AS cent_n
      FROM cents0 WHERE {_CENT_NORM} > 0),
    c_assign AS (
      SELECT vec_id AS neighbor_id, embedding AS c_vec, cent_id AS cell
      FROM embeddings, cents
      QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY {_IVF_SCORE} DESC, cent_id ASC) = 1),
    q_assign AS (
      SELECT vec_id AS query_id, embedding AS q_vec, cent_id AS cell
      FROM embeddings, cents
      WHERE vec_id < {N_QUERIES}
      QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY {_IVF_SCORE} DESC, cent_id ASC) <= 4),
    scored AS (
      SELECT query_id, neighbor_id,
             {_cos_micros_sql('q_vec', 'c_vec')} AS sim_micros
      FROM c_assign JOIN q_assign USING (cell)
      WHERE query_id <> neighbor_id)
    SELECT query_id, neighbor_id, rank, sim_micros FROM (
      SELECT query_id, neighbor_id, sim_micros,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY sim_micros DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored)
    WHERE rank <= {TOP_K}
    """,
    doc="IVF ANN: deterministic coarse quantizer (16 cells = every "
    "37th id), queries probe 4 cells, exact rerank inside — "
    "C/n_probe-fold scan reduction at 100 TB. The DuckDB oracle "
    "replays centroid sampling, dot/|c| argmax assignment (same id "
    "tiebreak) and the probe join, so ranks and sims are "
    "value-verified.",
    tags=("ann",),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.ann import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    return ivf_topk(emb, queries_df, k=TOP_K, n_centroids=16, n_probe=4)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding, label FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_cos_micros_sql('a.embedding', 'b.embedding')} AS sim_micros
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_cos_micros_sql('a.embedding', 'b.embedding')} >= 400000
    """,
    doc="Embedding-cosine near-dup pairs bucketed by label (never a "
    "full cross join); threshold 0.4 as micros.",
    tags=("dedup", "ann"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(emb, bucket_col="label", threshold_micros=400_000)


@query(
    "embedding_centroid_by_label",
    oracle="""
    SELECT label, CAST(i - 1 AS BIGINT) AS dim,
           CAST(sum(CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT))
                AS BIGINT) AS sum_micros,
           count(*) AS n_vecs
    FROM embeddings,
         generate_series(1, 64) AS t(i)  -- substrate dim (DuckDB needs a constant)
    WHERE i <= len(embedding)
    GROUP BY label, i
    """,
    doc="Per-label embedding centroid numerators in long form "
    "(label, dim, sum, count) — the distributed half of a k-means / "
    "class-prototype step. posexplode → partial-agged sum per "
    "(label, dim): the shuffle moves one row per dimension per "
    "partition, not per vector, and per-dim micros-bigint sums are "
    "order-independent (exact integer addition on both engines). "
    "Downstream divides sum/count to get the centroid.",
    tags=("ann",),
)
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        F.col("label"), F.posexplode("embedding").alias("dim", "x")
    )
    return exploded.groupBy("label", "dim").agg(
        F.sum(F.round(F.col("x").cast("double") * 1_000_000).cast("long")).alias(
            "sum_micros"
        ),
        F.count(F.lit(1)).alias("n_vecs"),
    ).select(
        F.col("label"), F.col("dim").cast("long").alias("dim"), "sum_micros", "n_vecs"
    )


def _kmeans_cte_sql(
    k: int = 8,
    n_iter: int = 5,
    dim: int = 64,
    prefix: str = "",
    offset: int = 0,
    base_from: str = "embeddings",
    base_col: str = "embedding",
) -> str:
    """Unrolled SQL CTE chain replaying kmeans_fit_assign: md5-seeded
    init, per iteration an argmin assignment (lowest-cluster tiebreak,
    same as array_position-of-min) and a micros-BIGINT centroid update
    (the operator quantizes its sums identically, so the replay is
    exact); empty clusters keep their previous centroid via the left
    join. Ends at CTE `fin` (vec_id, cluster, d) so composed oracles
    (semantic_dedup_keep) can build on the assignment.

    ``prefix``/``offset`` parameterize the chain for per-SUBSPACE fits
    (product quantization): every CTE name gets the prefix and the
    base vector becomes embedding[offset+1 .. offset+dim]. Defaults
    emit the exact original chain, so existing oracles are unchanged.
    ``base_from``/``base_col`` re-point the chain at another CTE's
    (vec_id, vector) pair — e.g. residual vectors for true-FAISS
    IVFPQ (the referenced CTE must already hold DOUBLE lists).

    ``base``, every centroid table ``c{i}`` and ``fin`` are MATERIALIZED:
    DuckDB inlines a plain CTE at each reference, and ``c{i}`` feeds
    both ``a{i}`` and ``c{i+1}``, so an inlined chain replays the
    earlier rounds 2^n_iter times.
    """
    p = prefix

    def d2(b: str, c: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"j -> ({b}.vec[j] - {c}.cvec[j]) * ({b}.vec[j] - {c}.cvec[j])))"
        )

    cast = "::DOUBLE" if base_from == "embeddings" else ""
    if offset == 0 and not prefix:
        base_vec = f"list_transform({base_col}, x -> x{cast})"
    else:
        base_vec = (
            f"list_transform(generate_series({offset + 1}, {offset + dim}), "
            f"j -> {base_col}[j]{cast})"
        )
    parts = [
        f"WITH {p}base AS MATERIALIZED (",
        f"  SELECT vec_id, {base_vec} AS vec",
        f"  FROM {base_from}),",
        f"{p}c0 AS MATERIALIZED (",
        "  SELECT CAST(row_number() OVER (ORDER BY h) - 1 AS BIGINT) AS cluster,",
        "         vec AS cvec",
        f"  FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec FROM {p}base",
        f"        ORDER BY h LIMIT {k})),",
    ]
    for i in range(n_iter):
        parts += [
            f"{p}a{i} AS (",
            "  SELECT vec_id, vec, cluster FROM (",
            "    SELECT b.vec_id, b.vec, c.cluster,",
            "           row_number() OVER (PARTITION BY b.vec_id ORDER BY",
            f"             {d2('b', 'c')} ASC, c.cluster ASC) AS rn",
            f"    FROM {p}base b, {p}c{i} c) WHERE rn = 1),",
            f"{p}u{i} AS (",
            "  SELECT cluster, list((s / 1000000.0) / n ORDER BY dim) AS cvec",
            "  FROM (",
            "    SELECT cluster, j AS dim,",
            "           sum(CAST(round(vec[j] * 1000000) AS BIGINT)) AS s,",
            "           count(*) AS n",
            f"    FROM {p}a{i}, unnest(generate_series(1, {dim})) AS t(j)",
            "    GROUP BY 1, 2) GROUP BY cluster),",
            f"{p}c{i + 1} AS MATERIALIZED (",
            "  SELECT c.cluster, coalesce(u.cvec, c.cvec) AS cvec",
            f"  FROM {p}c{i} c LEFT JOIN {p}u{i} u USING (cluster)),",
        ]
    parts += [
        f"{p}fin AS MATERIALIZED (",
        "  SELECT vec_id, cluster, d FROM (",
        f"    SELECT b.vec_id, c.cluster, {d2('b', 'c')} AS d,",
        "           row_number() OVER (PARTITION BY b.vec_id ORDER BY",
        f"             {d2('b', 'c')} ASC, c.cluster ASC) AS rn",
        f"    FROM {p}base b, {p}c{n_iter} c) WHERE rn = 1)",
    ]
    return "\n".join(parts)


def _kmeans_oracle_sql(k: int = 8, n_iter: int = 5, dim: int = 64) -> str:
    """Unrolled replay ending in the (id, cluster, dist2_micros)
    projection — the original embedding_kmeans_assign oracle."""
    return (
        _kmeans_cte_sql(k, n_iter, dim)
        + "\nSELECT vec_id AS id, cluster,"
        + "\n       CAST(round(d * 1000000) AS BIGINT) AS dist2_micros"
        + "\nFROM fin"
    )


@query(
    "embedding_kmeans_assign",
    # Iterative, but exactly replayable: the operator's centroid
    # sums are micros-bigints (order-independent integer addition),
    # so five unrolled SQL iterations reproduce every assignment.
    oracle=_kmeans_oracle_sql(),
    doc="Distributed Lloyd's k-means (k=8, 5 rounds) over the "
    "embeddings: broadcast-literal centroids, JVM zip_with distance "
    "argmin (corpus never shuffles for assignment), posexplode "
    "partial-agg centroid update — only k x dim doubles ever reach "
    "the driver per round. Deterministic md5 seeding, min-index "
    "tiebreaks. The curation/clustering step of a training-data "
    "pipeline at 100 TB (fit on a sample, one assignment pass over "
    "the corpus).",
    tags=("ann",),
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    # numpy-blocked Lloyd rounds (r7): bit-identical centroid
    # trajectory to the JVM path (tests/test_ann_kernels.py), so the
    # unrolled SQL replay verifies it unchanged; 3.3x at 10x
    # (BENCH_TREND r7).
    from utility_service_areas_spark.operators.kmeans import kmeans_fit_assign_np

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_fit_assign_np(emb, "vec_id", "embedding", k=8, n_iter=5)


_HIST_STEP = 7919  # deterministic partner stride (prime, coprime to n for most n)


@query(
    "embedding_pair_histogram",
    oracle=f"""
    WITH m AS (SELECT max(vec_id) + 1 AS n FROM embeddings),
    p AS (
      SELECT a.embedding AS ea, b.embedding AS eb
      FROM embeddings a, m, embeddings b
      WHERE b.vec_id = (a.vec_id + {_HIST_STEP}) % m.n
        AND a.vec_id != b.vec_id)
    SELECT CAST(floor({{cos}} / 100000.0) AS BIGINT) AS sim_bin,
           count(*) AS n_pairs
    FROM p GROUP BY 1
    """.format(cos=_cos_micros_sql("ea", "eb")),
    doc="Similarity-distribution histogram over a deterministic "
    "linear-size pair sample: each vector is paired with the vector "
    f"at id+{_HIST_STEP} mod n (prime stride — a content-independent "
    "derangement-style sample), cosine is the same sequential double "
    "fold as every ANN oracle, and counts land in 0.1-wide bins. The "
    "corpus-health profile a curation run computes before choosing a "
    "near-dup threshold: one equi-join on the derived partner id "
    "(linear, never a cross join), one tiny-key aggregate. At 100 TB "
    "the stride sample costs exactly one shuffle of n rows.",
    tags=("ann", "pipeline"),
)
def embedding_pair_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.ann import cosine_micros

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.agg((F.max("vec_id") + 1).alias("n"))
    left = (
        emb.join(F.broadcast(n))
        .withColumn("partner", (F.col("vec_id") + _HIST_STEP) % F.col("n"))
        .filter(F.col("partner") != F.col("vec_id"))
        .select("vec_id", F.col("embedding").alias("ea"), "partner")
    )
    right = emb.select(
        F.col("vec_id").alias("partner"), F.col("embedding").alias("eb")
    )
    return (
        left.join(right, "partner")
        .select(
            F.floor(cosine_micros(F.col("ea"), F.col("eb")) / F.lit(100000.0))
            .cast("long")
            .alias("sim_bin")
        )
        .groupBy("sim_bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "ann_ivf_sqrtn_topk",
    # The C ≈ √n regime twin of ann_ivf_topk (#51): C=64 crosses the
    # assign_via="auto" threshold, so THIS key value-verifies the
    # blocked-numpy assignment kernel itself (operators/ann.py::
    # _numpy_assign_top1) — the oracle replays assignment with the
    # same sequential double fold, and the kernel is bitwise-equal to
    # it by construction (tests/test_dedup.py pins the equality vs the
    # JVM path; the driver hash here pins it vs SQL).
    oracle=f"""
    WITH cents0 AS (
      SELECT vec_id AS cent_id, embedding AS cent_vec
      FROM embeddings WHERE vec_id % 7 = 0 ORDER BY vec_id LIMIT 64),
    cents AS (
      SELECT cent_id, cent_vec, {_CENT_NORM} AS cent_n
      FROM cents0 WHERE {_CENT_NORM} > 0),
    c_assign AS (
      SELECT vec_id AS neighbor_id, embedding AS c_vec, cent_id AS cell
      FROM embeddings, cents
      QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY {_IVF_SCORE} DESC, cent_id ASC) = 1),
    q_assign AS (
      SELECT vec_id AS query_id, embedding AS q_vec, cent_id AS cell
      FROM embeddings, cents
      WHERE vec_id < {N_QUERIES}
      QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY {_IVF_SCORE} DESC, cent_id ASC) <= 8),
    scored AS (
      SELECT query_id, neighbor_id,
             {_cos_micros_sql('q_vec', 'c_vec')} AS sim_micros
      FROM c_assign JOIN q_assign USING (cell)
      WHERE query_id <> neighbor_id)
    SELECT query_id, neighbor_id, rank, sim_micros FROM (
      SELECT query_id, neighbor_id, sim_micros,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY sim_micros DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored)
    WHERE rank <= {TOP_K}
    """,
    doc="IVF ANN in the C ≈ √n regime (64 cells = every 7th id, 8 "
    "probes): the corpus→cell assignment runs through the blocked "
    "Arrow numpy kernel (auto at C ≥ 64 — the bound at 1M×C=1000 is "
    "42 s vs ~2 h for the interpreted fold, BENCH_TREND r7), and the "
    "DuckDB oracle value-verifies its assignments end-to-end.",
    tags=("ann",),
)
def ann_ivf_sqrtn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.ann import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    return ivf_topk(
        emb, queries_df, k=TOP_K, n_centroids=64, n_probe=8, centroid_stride=7
    )


@query(
    "embedding_quantize_int8",
    # Symmetric per-dimension scalar quantization — the storage-side
    # ANN op (4× smaller vectors, table scans stay JVM-side). Scales
    # are a corpus max-|x| per dim (64-row partial agg), codes and the
    # reconstruction SSE are pure array lambdas; every double on the
    # Spark side has an operand-order-identical SQL twin, and micros
    # round via floor(+0.5) (SURVEY §6).
    oracle="""
    WITH dims AS (
      SELECT i, max(abs(embedding[i]::DOUBLE)) AS s
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
      GROUP BY i),
    sc AS (SELECT list(s ORDER BY i) AS scales FROM dims)
    SELECT vec_id,
           array_to_string(list_transform(
             list_transform(generate_series(1, len(embedding)),
               i -> CASE WHEN scales[i] = 0 THEN 0
                         ELSE CAST(floor(embedding[i]::DOUBLE / scales[i] * 127
                                         + 0.5) AS INT) END),
             c -> CAST(c AS VARCHAR)), ',') AS codes,
           CAST(floor(list_sum(list_transform(
                 list_transform(generate_series(1, len(embedding)),
                   i -> CASE WHEN scales[i] = 0 THEN embedding[i]::DOUBLE
                             ELSE embedding[i]::DOUBLE
                                  - floor(embedding[i]::DOUBLE / scales[i] * 127
                                          + 0.5) * scales[i] / 127 END),
                 d -> d * d)) * 1000000 + 0.5) AS BIGINT) AS sse_micros
    FROM embeddings, sc
    """,
    doc="int8 embedding quantization for the 100 TB storage path: "
    "per-dim symmetric scales from one 64-key partial agg, broadcast "
    "as a 1-row dim onto the corpus; codes + reconstruction SSE are "
    "codegen array lambdas — the corpus never shuffles. floor(+0.5) "
    "rounding and sequential-fold sums keep the whole thing "
    "bit-mirrored in the DuckDB oracle.",
    tags=("ann", "pipeline"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode("embedding").alias("pos", "x")
    ).groupBy("pos").agg(F.max(F.abs(F.col("x").cast("double"))).alias("s"))
    scales = dims.agg(
        F.expr("transform(sort_array(collect_list(struct(pos, s))), e -> e.s)")
        .alias("scales")
    )
    q = emb.crossJoin(F.broadcast(scales))
    x = lambda c: c.cast("double")
    codes = F.zip_with(
        "embedding",
        "scales",
        lambda v, s: F.when(s == 0, F.lit(0)).otherwise(
            F.floor(x(v) / s * 127 + 0.5).cast("int")
        ),
    )
    d = F.zip_with(
        "embedding",
        "scales",
        lambda v, s: F.when(s == 0, x(v)).otherwise(
            x(v) - F.floor(x(v) / s * 127 + 0.5) * s / 127
        ),
    )
    sse = F.aggregate(
        F.transform(d, lambda e: e * e), F.lit(0.0), lambda acc, e: acc + e
    )
    # codes are emitted comma-joined (the repo's array-output convention,
    # see group_combine_collect): the driver's pandas canonicalizer cannot
    # sort raw list columns, and a string column hashes identically on
    # both sides.
    return q.select(
        "vec_id",
        F.array_join(
            F.transform(codes, lambda c: c.cast("string")), ","
        ).alias("codes"),
        F.floor(sse * 1_000_000 + 0.5).cast("long").alias("sse_micros"),
    )


_DEC = (
    "CASE WHEN scales[i] = 0 THEN CAST(0.0 AS DOUBLE) "
    "ELSE floor(embedding[i]::DOUBLE / scales[i] * 127 + 0.5) "
    "* scales[i] / 127 END"
)


@query(
    "ann_quantized_topk",
    # Asymmetric-distance search (the FAISS "ADC" shape): FLOAT queries
    # scored against the int8-DECODED corpus — what a 100 TB vector
    # store actually serves from (4× smaller scan; codes decoded on
    # the fly). Decode + fold are operand-order mirrored, so the whole
    # approximate search is value-verified, not just recall-bounded.
    oracle=f"""
    WITH dims AS (
      SELECT i, max(abs(embedding[i]::DOUBLE)) AS s
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
      GROUP BY i),
    sc AS (SELECT list(s ORDER BY i) AS scales FROM dims),
    dec AS (
      SELECT vec_id AS neighbor_id,
             list_transform(generate_series(1, len(embedding)),
                            i -> {_DEC}) AS dvec
      FROM embeddings, sc),
    q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
          WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(round(
               list_sum(list_transform(generate_series(1, len(qvec)),
                        i -> qvec[i]::DOUBLE * dvec[i]))
               / (sqrt(list_sum(list_transform(generate_series(1, len(qvec)),
                        i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE)))
                  * sqrt(list_sum(list_transform(generate_series(1, len(dvec)),
                        i -> dvec[i] * dvec[i]))))
               * 1000000) AS BIGINT) AS sim_micros
      FROM dec CROSS JOIN q
      WHERE query_id <> neighbor_id)
    SELECT query_id, neighbor_id, rank, sim_micros FROM (
      SELECT query_id, neighbor_id, sim_micros,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY sim_micros DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored)
    WHERE rank <= {TOP_K}
    """,
    doc="Quantized ANN end-to-end (asymmetric distance / ADC): float "
    "queries broadcast against the int8-decoded corpus — the serving "
    "path over #144's storage format. Decode is a codegen array "
    "lambda; the corpus never shuffles (same brute-force TopK shape "
    "as ann_cosine_topk); recall vs exact search is pytest-pinned.",
    tags=("ann", "pipeline"),
)
def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from utility_service_areas_spark.operators.ann import dot_expr

    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(F.posexplode("embedding").alias("pos", "x")).groupBy(
        "pos"
    ).agg(F.max(F.abs(F.col("x").cast("double"))).alias("s"))
    scales = dims.agg(
        F.expr("transform(sort_array(collect_list(struct(pos, s))), e -> e.s)")
        .alias("scales")
    )
    x = lambda c: c.cast("double")
    dec = F.zip_with(
        "embedding",
        "scales",
        lambda v, s: F.when(s == 0, F.lit(0.0)).otherwise(
            F.floor(x(v) / s * 127 + 0.5) * s / 127
        ),
    )
    corpus = (
        emb.crossJoin(F.broadcast(scales))
        .select(F.col("vec_id").alias("neighbor_id"), dec.alias("dvec"))
        .withColumn(
            "d_n", F.sqrt(dot_expr(F.col("dvec"), F.col("dvec")))
        )
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    ).withColumn("q_n", F.sqrt(dot_expr(F.col("qvec"), F.col("qvec"))))
    scored = (
        corpus.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim_micros",
            F.round(
                dot_expr(F.col("qvec"), F.col("dvec"))
                / (F.col("q_n") * F.col("d_n"))
                * 1_000_000
            ).cast("long"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_micros").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "sim_micros")
    )


@query(
    "ann_ivf_quantized_topk",
    # The full serving stack: int8-quantized corpus (#144's format),
    # IVF coarse quantizer over the DECODED vectors (#142's probe
    # path, C=64 → blocked-numpy assignment kernel), asymmetric
    # rerank with float queries (#148's ADC). Every stage mirrors
    # operand-for-operand, so the composed approximate index is
    # value-verified end-to-end — not just recall-bounded.
    oracle=f"""
    WITH dims AS (
      SELECT i, max(abs(embedding[i]::DOUBLE)) AS s
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
      GROUP BY i),
    sc AS (SELECT list(s ORDER BY i) AS scales FROM dims),
    dec AS (
      SELECT vec_id,
             list_transform(generate_series(1, len(embedding)),
                            i -> {_DEC}) AS dvec
      FROM embeddings, sc),
    cents0 AS (
      SELECT vec_id AS cent_id, dvec AS cent_vec
      FROM dec WHERE vec_id % 7 = 0 ORDER BY vec_id LIMIT 64),
    cents AS (
      SELECT cent_id, cent_vec,
             sqrt(list_sum(list_transform(generate_series(1, len(cent_vec)),
                  i -> cent_vec[i] * cent_vec[i]))) AS cent_n
      FROM cents0
      WHERE list_sum(list_transform(generate_series(1, len(cent_vec)),
                  i -> cent_vec[i] * cent_vec[i])) > 0),
    c_assign AS (
      SELECT vec_id AS neighbor_id, dvec AS c_vec, cent_id AS cell
      FROM dec, cents
      QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY (list_sum(list_transform(
                            generate_series(1, len(dvec)),
                            i -> dvec[i] * cent_vec[i]))) / cent_n DESC,
                         cent_id ASC) = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
          WHERE vec_id < {N_QUERIES}),
    q_assign AS (
      SELECT query_id, qvec, cent_id AS cell
      FROM q, cents
      QUALIFY row_number() OVER (PARTITION BY query_id
                ORDER BY (list_sum(list_transform(
                            generate_series(1, len(qvec)),
                            i -> qvec[i]::DOUBLE * cent_vec[i]))) / cent_n
                         DESC, cent_id ASC) <= 8),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(round(
               list_sum(list_transform(generate_series(1, len(qvec)),
                        i -> qvec[i]::DOUBLE * c_vec[i]))
               / (sqrt(list_sum(list_transform(generate_series(1, len(qvec)),
                        i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE)))
                  * sqrt(list_sum(list_transform(generate_series(1, len(c_vec)),
                        i -> c_vec[i] * c_vec[i]))))
               * 1000000) AS BIGINT) AS sim_micros
      FROM c_assign JOIN q_assign USING (cell)
      WHERE query_id <> neighbor_id)
    SELECT query_id, neighbor_id, rank, sim_micros FROM (
      SELECT query_id, neighbor_id, sim_micros,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY sim_micros DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored)
    WHERE rank <= {TOP_K}
    """,
    doc="The composed FAISS-style index, value-verified end-to-end: "
    "int8 storage (#144) → IVF coarse quantizer over decoded vectors "
    "with the blocked-numpy assignment kernel (#142, C=64, 8 probes) "
    "→ asymmetric float-query rerank (#148). At 100 TB this is the "
    "serving architecture: 4× smaller scans, C/n_probe-fold scan "
    "reduction, decode only on probed cells.",
    tags=("ann", "pipeline"),
)
def ann_ivf_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.ann import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(F.posexplode("embedding").alias("pos", "x")).groupBy(
        "pos"
    ).agg(F.max(F.abs(F.col("x").cast("double"))).alias("s"))
    scales = dims.agg(
        F.expr("transform(sort_array(collect_list(struct(pos, s))), e -> e.s)")
        .alias("scales")
    )
    x = lambda c: c.cast("double")
    dec = F.zip_with(
        "embedding",
        "scales",
        lambda v, s: F.when(s == 0, F.lit(0.0)).otherwise(
            F.floor(x(v) / s * 127 + 0.5) * s / 127
        ),
    )
    corpus = emb.crossJoin(F.broadcast(scales)).select(
        "vec_id", dec.alias("embedding")
    )
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return ivf_topk(
        corpus,
        queries_df,
        k=TOP_K,
        n_centroids=64,
        n_probe=8,
        centroid_stride=7,
    )


def _semantic_oracle_sql(k: int = 8, n_iter: int = 5) -> str:
    """SemDeDup replay at a given clustering size: k-means CTE chain →
    within-cluster cosine pairs → recursive component closure →
    keeper projection. MATERIALIZED pins the multi-referenced stages
    to one evaluation (the curation_funnel_report lesson)."""
    return f"""
    WITH RECURSIVE
    {_kmeans_cte_sql(k=k, n_iter=n_iter)[len("WITH "):]},
    v AS MATERIALIZED (
      SELECT f.vec_id, f.cluster, e.embedding
      FROM fin f JOIN embeddings e USING (vec_id)),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM v a JOIN v b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {_cos_micros_sql('a.embedding', 'b.embedding')} >= 400000),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (SELECT a AS node, min(b) AS comp FROM reach GROUP BY a)
    SELECT f.vec_id, f.cluster,
           coalesce(c.comp, f.vec_id) AS keeper_id,
           (coalesce(c.comp, f.vec_id) = f.vec_id) AS is_kept
    FROM fin f LEFT JOIN comp c ON f.vec_id = c.node
    """


@query(
    "semantic_dedup_keep",
    # SemDeDup (Abbas et al. 2023): cluster the embedding space, prune
    # near-duplicate semantic neighbors WITHIN each cluster only — the
    # scalable form of embedding dedup (the k-means partition bounds
    # the pair join; no cross-cluster pairs ever form). Composed from
    # three already-value-verified kernels: the unrolled k-means replay
    # (CTE chain `fin`), the within-bucket cosine pairs, and the
    # recursive-CTE component closure — so the whole composition is
    # value-oracled end to end.
    oracle=_semantic_oracle_sql(),
    doc="Semantic dedup (SemDeDup shape): k-means over the embeddings "
    "(8 clusters, 5 Lloyd rounds, bit-replayed micros trajectory) → "
    "cosine near-dup pairs WITHIN clusters only (threshold 0.4 "
    "micros-exact; the cluster partition is what makes embedding "
    "dedup tractable at 100 TB — the pair join is bounded per cell, "
    "never corpus²) → connected components → one keeper per semantic "
    "group (min id), every vector flagged keep/drop. The curation "
    "decision a web-scale pipeline applies after exact and MinHash "
    "dedup have removed the lexical copies.",
    tags=("ann", "dedup", "pipeline"),
)
def semantic_dedup_keep(
    spark: SparkSession, sf_dir: str, k: int = 8, n_iter: int = 5
) -> DataFrame:
    # k is the SCALE lever: the oracle pins k=8 (the kmeans replay),
    # but within-cluster pair cost is O(n²/k), so production sizes
    # k ∝ √n like ann_ivf_sqrtn_topk. Measured at 30× (60k vectors,
    # BENCH_TREND r8): k=8 128 s (quadratic regime), k=√n=244 46 s.
    from utility_service_areas_spark.operators.graph import connected_components
    from utility_service_areas_spark.operators.kmeans import kmeans_fit_assign_np

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_fit_assign_np(
        emb, "vec_id", "embedding", k=k, n_iter=n_iter
    ).select(F.col("id").alias("vec_id"), "cluster")
    v = emb.select("vec_id", "embedding").join(assigned, "vec_id")
    pairs = embedding_cosine_pairs(v, "cluster", threshold_micros=400_000)
    comp = connected_components(pairs, "id_a", "id_b")
    keeper = F.coalesce(F.col("comp"), F.col("vec_id"))
    return (
        assigned.join(comp, F.col("vec_id") == F.col("node"), "left")
        .select(
            "vec_id",
            "cluster",
            keeper.alias("keeper_id"),
            (keeper == F.col("vec_id")).alias("is_kept"),
        )
    )


@query(
    "embedding_outlier_flags",
    # Engine-safety: all stats flow through integer micros (exact sums
    # in any combine order); the variance/std doubles are computed by
    # operand-order-identical expressions on both sides, and sqrt is
    # IEEE-correctly-rounded in both engines. sumsq of micros fits
    # int64 for |x| < ~10 and n < ~1e5 per label-dim (this substrate);
    # a 100 TB run promotes the sumsq accumulator to DECIMAL(38) or
    # rescales — the plan shape is unchanged.
    oracle="""
    WITH ex AS (
      SELECT vec_id, label, i - 1 AS dim,
             CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5) AS BIGINT) AS xm
      FROM embeddings, generate_series(1, 64) AS t(i)
      WHERE i <= len(embedding)),
    stats AS (
      SELECT label, dim,
             count(*) AS n,
             CAST(sum(xm) AS BIGINT) AS s,
             CAST(sum(xm * xm) AS BIGINT) AS q
      FROM ex GROUP BY 1, 2),
    z AS (
      SELECT e.vec_id, e.label,
             CASE WHEN abs(e.xm - s * 1.0 / n)
                       > 2.0 * sqrt(q * 1.0 / n - (s * 1.0 / n) * (s * 1.0 / n))
                  THEN 1 ELSE 0 END AS flagged
      FROM ex e JOIN stats USING (label, dim))
    SELECT vec_id, label,
           CAST(sum(flagged) AS BIGINT) AS n_outlier_dims,
           sum(flagged) >= 8 AS is_outlier
    FROM z GROUP BY vec_id, label
    """,
    doc="Embedding QC before indexing: per-(label, dim) mean/std from "
    "one partial-agg pass over integer micros, broadcast back onto "
    "the corpus, each vector counts dimensions beyond 2 sigma; "
    ">= 8 of 64 flagged dims marks the vector an outlier (corrupt "
    "encode, wrong-model mixup, adversarial content — the rows you "
    "quarantine before they poison ANN recall or k-means centroids). "
    "The stats table is labels x dims rows regardless of corpus "
    "size; the per-vector pass is a broadcast join + one count "
    "shuffle of partial-agged (vec, count) rows.",
    tags=("ann", "pipeline"),
)
def embedding_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.floor(F.col("x").cast("double") * 1_000_000 + 0.5)
        .cast("long")
        .alias("xm"),
    )
    stats = ex.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xm").alias("s"),
        F.sum(F.col("xm") * F.col("xm")).alias("q"),
    )
    mean = F.col("s") * 1.0 / F.col("n")
    var = F.col("q") * 1.0 / F.col("n") - mean * mean
    flagged = F.when(
        F.abs(F.col("xm") - mean) > 2.0 * F.sqrt(var), 1
    ).otherwise(0)
    z = ex.join(F.broadcast(stats), ["label", "dim"]).select(
        "vec_id", "label", flagged.alias("flagged")
    )
    return z.groupBy("vec_id", "label").agg(
        F.sum("flagged").cast("long").alias("n_outlier_dims"),
        (F.sum("flagged") >= 8).alias("is_outlier"),
    )


@query(
    "semantic_dedup_sqrtn",
    oracle=_semantic_oracle_sql(k=64, n_iter=3),
    doc="SemDeDup at PRODUCTION sizing: the same cluster→pairs→CC→"
    "keeper composition as semantic_dedup_keep but with k = 64 "
    "clusters (the C ≈ √n service regime, the ann_ivf_sqrtn_topk "
    "precedent) and 3 Lloyd rounds — within-cluster pair cost drops "
    "from O(n²/8) to O(n²/64), the sizing that held 46 s vs 128 s at "
    "the 30× stress (BENCH_TREND r8). Value-verifies the Arrow "
    "k-means kernel at a larger k than any other oracle (64 centroid "
    "rows × 3 unrolled iterations replayed in SQL).",
    tags=("ann", "dedup", "pipeline"),
)
def semantic_dedup_sqrtn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_dedup_keep(spark, sf_dir, k=64, n_iter=3)


_PQ_M = 8  # subspaces
_PQ_K = 32  # codes per subspace
_PQ_ITER = 2  # Lloyd rounds per codebook
_PQ_DIM = 64  # embedding dim (subspace dim = _PQ_DIM // _PQ_M)
_PQ_SHORTLIST = 100  # ADC shortlist re-ranked exactly


def _pq_chains_and_dec_sql(
    m: int,
    k: int,
    n_iter: int,
    dim: int,
    base_from: str = "embeddings",
    base_col: str = "embedding",
) -> str:
    """The shared PQ replay prefix: m per-subspace k-means chains plus
    the `dec` CTE (neighbor_id, dvec = codebook-decoded vector). Used
    by the standalone PQ oracle and the IVF+PQ compositions;
    ``base_from``/``base_col`` re-point the fits at a residual CTE."""
    sub = dim // m
    chains = []
    for s in range(m):
        c = _kmeans_cte_sql(k=k, n_iter=n_iter, dim=sub,
                            prefix=f"s{s}_", offset=s * sub,
                            base_from=base_from, base_col=base_col)
        chains.append(c[len("WITH "):])
    dec_joins = ["FROM s0_fin f0", f"JOIN s0_c{n_iter} cb0 ON f0.cluster = cb0.cluster"]
    for s in range(1, m):
        dec_joins.append(f"JOIN s{s}_fin f{s} ON f{s}.vec_id = f0.vec_id")
        dec_joins.append(f"JOIN s{s}_c{n_iter} cb{s} ON f{s}.cluster = cb{s}.cluster")
    concat = " || ".join(f"cb{s}.cvec" for s in range(m))
    return f"""{",".join(chains)},
    dec AS (
      SELECT f0.vec_id AS neighbor_id, {concat} AS dvec
      {" ".join(dec_joins)})"""


_ADC_MICROS = """CAST(round(
               list_sum(list_transform(generate_series(1, len(qvec)),
                        i -> qvec[i]::DOUBLE * dvec[i]))
               / (sqrt(list_sum(list_transform(generate_series(1, len(qvec)),
                        i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE)))
                  * sqrt(list_sum(list_transform(generate_series(1, len(dvec)),
                        i -> dvec[i] * dvec[i]))))
               * 1000000) AS BIGINT)"""


def _pq_oracle_sql(m: int = _PQ_M, k: int = _PQ_K, n_iter: int = _PQ_ITER,
                   dim: int = _PQ_DIM) -> str:
    """Full PQ replay: m independent per-subspace k-means chains
    (prefixed _kmeans_cte_sql over embedding slices), codes decoded by
    joining each subspace assignment to its final codebook, subvectors
    concatenated in subspace order, ADC shortlist, then the EXACT
    re-rank of the shortlist (the FAISS refine composition)."""
    return f"""
    WITH {_pq_chains_and_dec_sql(m, k, n_iter, dim)},
    q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
          WHERE vec_id < {N_QUERIES}),
    adc AS (
      SELECT query_id, neighbor_id,
             CAST(round(
               list_sum(list_transform(generate_series(1, len(qvec)),
                        i -> qvec[i]::DOUBLE * dvec[i]))
               / (sqrt(list_sum(list_transform(generate_series(1, len(qvec)),
                        i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE)))
                  * sqrt(list_sum(list_transform(generate_series(1, len(dvec)),
                        i -> dvec[i] * dvec[i]))))
               * 1000000) AS BIGINT) AS pq_micros
      FROM dec CROSS JOIN q
      WHERE query_id <> neighbor_id),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY pq_micros DESC, neighbor_id) AS rn
        FROM adc)
      WHERE rn <= {_PQ_SHORTLIST}),
    rer AS (
      SELECT s.query_id, s.neighbor_id,
             {_cos_micros_sql('qvec', 'cvec')} AS sim_micros
      FROM shortlist s
      JOIN (SELECT vec_id AS neighbor_id, embedding AS cvec
            FROM embeddings) e USING (neighbor_id)
      JOIN q USING (query_id))
    SELECT query_id, neighbor_id, rank, sim_micros FROM (
      SELECT query_id, neighbor_id, sim_micros,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY sim_micros DESC, neighbor_id) AS BIGINT) AS rank
      FROM rer)
    WHERE rank <= {TOP_K}
    """


@query(
    "ann_pq_topk",
    oracle=_pq_oracle_sql(),
    doc="Product-quantization ANN with exact refine (Jégou et al. PQ "
    "+ the FAISS IVFPQ-refine composition): the corpus compresses to "
    "m=8 codes per vector (32-entry codebook per 8-dim subspace, "
    "md5-seeded micros-BIGINT k-means per subspace — the same "
    "bit-replayable fit as embedding_kmeans_assign); float queries "
    "score the CODEBOOK-DECODED corpus (asymmetric distance / ADC) "
    "to build a per-query shortlist of 100, and the shortlist alone "
    "is re-ranked with EXACT cosine — the serving path over a "
    "16x-compressed store where only shortlist/n of the float "
    "vectors are ever touched per query. Every stage is "
    "value-oracled: the SQL replays all eight subspace fits "
    "unrolled, decodes by code-to-codebook join, mirrors both "
    "scoring folds operand-for-operand. Scale shape: codebook fits "
    "touch k x 8 driver doubles each; encoding is ONE fused "
    "mapInPandas pass (all m argmins per Arrow batch — corpus "
    "scanned once); decode is a codegen element_at over literal "
    "codebooks; queries broadcast and the shortlist broadcasts back "
    "for the refine join — the corpus never shuffles. Shortlist "
    "containment vs exact search pytest-pinned (random embeddings "
    "are PQ's adversarial case: near-zero cosine structure).",
    tags=("ann", "pipeline"),
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from utility_service_areas_spark.operators.ann import dot_expr, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    codes, books = pq_encode(
        emb, "vec_id", "embedding", m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER,
        expected_dim=_PQ_DIM,
    )
    book_lits = [
        F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in books[s]])
        for s in range(_PQ_M)
    ]
    dvec = F.concat(
        *[
            F.element_at(book_lits[s], (F.col(f"code_{s}") + 1).cast("int"))
            for s in range(_PQ_M)
        ]
    )
    corpus = codes.select(
        F.col("id").alias("neighbor_id"), dvec.alias("dvec")
    ).withColumn("d_n", F.sqrt(dot_expr(F.col("dvec"), F.col("dvec"))))
    q = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        .withColumn("q_n", F.sqrt(dot_expr(F.col("qvec"), F.col("qvec"))))
    )
    adc = (
        corpus.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "pq_micros",
            F.round(
                dot_expr(F.col("qvec"), F.col("dvec"))
                / (F.col("q_n") * F.col("d_n"))
                * 1_000_000
            ).cast("long"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_micros").desc(), F.col("neighbor_id")
    )
    shortlist = (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    exact_side = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    ).withColumn("c_n", F.sqrt(dot_expr(F.col("cvec"), F.col("cvec"))))
    rer = (
        exact_side.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "sim_micros",
            F.round(
                dot_expr(F.col("qvec"), F.col("cvec"))
                / (F.col("q_n") * F.col("c_n"))
                * 1_000_000
            ).cast("long"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim_micros").desc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "sim_micros")
    )


_MRL_DIMS = (8, 16, 32, 64)  # prefix dims probed (64 = full)


def _mrl_cos_sql(d: int) -> str:
    dot = (f"list_sum(list_transform(generate_series(1, {d}), "
           "i -> qvec[i]::DOUBLE * cvec[i]::DOUBLE))")
    nq = (f"list_sum(list_transform(generate_series(1, {d}), "
          "i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE))")
    nc = (f"list_sum(list_transform(generate_series(1, {d}), "
          "i -> cvec[i]::DOUBLE * cvec[i]::DOUBLE))")
    return f"CAST(round({dot} / (sqrt({nq}) * sqrt({nc})) * 1000000) AS BIGINT)"


@query(
    "embedding_matryoshka_recall",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cvec FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             {", ".join(f"{_mrl_cos_sql(d)} AS sim_{d}" for d in _MRL_DIMS)}
      FROM q JOIN c ON query_id <> neighbor_id),
    tops AS (
      {" UNION ALL ".join(
        f'''SELECT {d} AS trunc_dim, query_id, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY sim_{d} DESC, neighbor_id) AS rn
              FROM scored) WHERE rn <= {TOP_K}'''
        for d in _MRL_DIMS)}),
    full_top AS (SELECT query_id, neighbor_id FROM tops
                 WHERE trunc_dim = {_MRL_DIMS[-1]})
    SELECT t.trunc_dim,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           CAST(floor(sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                      * 1000000.0 / count(*) + 0.5) AS BIGINT) AS recall_micros
    FROM tops t
    LEFT JOIN full_top f
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY t.trunc_dim
    """,
    doc="Matryoshka-truncation QA (Kusupati et al. MRL): top-10 "
    "retrieval run at every prefix dim (8/16/32/64) of the embedding, "
    "reported as recall against the full-dim ranking — the table that "
    "picks the cheapest serving dim for an MRL-trained model (a 64→16 "
    "truncation is a 4x index-size and bandwidth cut; this query says "
    "what it costs in recall). One broadcast pair join computes all "
    "four truncated cosines in a single pass over the pair stream "
    "(prefix dots via slice, pure codegen); one window pass per dim "
    "over the same frame; the corpus never shuffles. Fully "
    "value-oracled — prefix folds are operand-order mirrored.",
    tags=("ann", "pipeline"),
)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from utility_service_areas_spark.operators.ann import dot_expr

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )

    def sim(d: int) -> F.Column:
        qs, cs = F.slice("qvec", 1, d), F.slice("cvec", 1, d)
        return F.round(
            dot_expr(qs, cs)
            / (F.sqrt(dot_expr(qs, qs)) * F.sqrt(dot_expr(cs, cs)))
            * 1_000_000
        ).cast("long")

    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            *[sim(d).alias(f"sim_{d}") for d in _MRL_DIMS],
        )
    )
    tops = None
    for d in _MRL_DIMS:
        w = Window.partitionBy("query_id").orderBy(
            F.col(f"sim_{d}").desc(), F.col("neighbor_id")
        )
        t = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOP_K)
            .select(
                F.lit(d).cast("long").alias("trunc_dim"),
                "query_id",
                "neighbor_id",
            )
        )
        tops = t if tops is None else tops.unionByName(t)
    # Aliased columns, NOT frame-attribute references: full_top shares
    # tops' lineage, so tops.query_id == full_top.query_id resolves to
    # a trivially-true self-comparison (Spark warns) and the join would
    # silently key on neighbor_id alone — crediting another query's
    # full-dim neighbor as overlap.
    full_top = tops.filter(F.col("trunc_dim") == _MRL_DIMS[-1]).select(
        F.col("query_id").alias("f_query"),
        F.col("neighbor_id").alias("f_neighbor"),
    )
    joined = tops.join(
        F.broadcast(full_top),
        (F.col("query_id") == F.col("f_query"))
        & (F.col("neighbor_id") == F.col("f_neighbor")),
        "left",
    ).select("trunc_dim", "f_neighbor")
    hit = F.sum(F.when(F.col("f_neighbor").isNotNull(), 1).otherwise(0))
    return joined.groupBy("trunc_dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        hit.cast("long").alias("n_overlap"),
        F.floor(hit * 1000000.0 / F.count(F.lit(1)) + 0.5)
        .cast("long")
        .alias("recall_micros"),
    )


_IVFPQ_SHORTLIST = 50  # ADC shortlist per query within probed cells


@query(
    "ann_ivfpq_topk",
    oracle=f"""
    WITH {_pq_chains_and_dec_sql(_PQ_M, _PQ_K, _PQ_ITER, _PQ_DIM)},
    cents0 AS (
      SELECT vec_id AS cent_id, embedding AS cent_vec
      FROM embeddings WHERE vec_id % 37 = 0 ORDER BY vec_id LIMIT 16),
    cents AS (
      SELECT cent_id, cent_vec, {_CENT_NORM} AS cent_n
      FROM cents0 WHERE {_CENT_NORM} > 0),
    c_assign AS (
      SELECT vec_id AS neighbor_id, embedding AS cvec, cent_id AS cell
      FROM embeddings, cents
      QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY {_IVF_SCORE} DESC, cent_id ASC) = 1),
    q_assign AS (
      SELECT vec_id AS query_id, embedding AS qvec, cent_id AS cell
      FROM embeddings, cents
      WHERE vec_id < {N_QUERIES}
      QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY {_IVF_SCORE} DESC, cent_id ASC) <= 4),
    cand AS (
      SELECT query_id, qvec, neighbor_id
      FROM c_assign JOIN q_assign USING (cell)
      WHERE query_id <> neighbor_id),
    adc AS (
      SELECT query_id, neighbor_id, {_ADC_MICROS} AS pq_micros
      FROM cand JOIN dec USING (neighbor_id)),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY pq_micros DESC, neighbor_id) AS rn
        FROM adc)
      WHERE rn <= {_IVFPQ_SHORTLIST}),
    q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
          WHERE vec_id < {N_QUERIES}),
    rer AS (
      SELECT s.query_id, s.neighbor_id,
             {_cos_micros_sql('qvec', 'cvec')} AS sim_micros
      FROM shortlist s
      JOIN (SELECT vec_id AS neighbor_id, embedding AS cvec
            FROM embeddings) e USING (neighbor_id)
      JOIN q USING (query_id))
    SELECT query_id, neighbor_id, rank, sim_micros FROM (
      SELECT query_id, neighbor_id, sim_micros,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY sim_micros DESC, neighbor_id) AS BIGINT) AS rank
      FROM rer)
    WHERE rank <= {TOP_K}
    """,
    doc="The FULL production vector index, composed: IVF coarse "
    "quantizer (16 deterministic cells, 4 probes — prunes the corpus "
    "scan C/n_probe-fold) x product-quantized codes (m=8 sub-"
    "codebooks — 16x smaller candidate payload) x ADC shortlist x "
    "exact refine of the top-50. This is FAISS's IVFPQ+refine shape "
    "re-expressed as four joins over two reused registry components "
    "(ivf_assignments + pq_encode), and every stage remains value-"
    "oracled: the SQL replays the coarse assignment, all eight "
    "subspace fits, the decode join, and both scoring folds. "
    "Divergence from FAISS noted: codes quantize raw vectors, not "
    "cell residuals (residual PQ trades one more centroid subtract "
    "for tighter codes; the raw-code variant keeps the codebooks "
    "corpus-global and the oracle single-pass). Scale shape: "
    "candidates shuffle only on the cell id; the ADC join ships "
    "8-byte codes, never floats; only shortlist/n of the float "
    "corpus is touched per query at refine.",
    tags=("ann", "pipeline"),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from utility_service_areas_spark.operators.ann import (
        dot_expr,
        ivf_assignments,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    codes, books = pq_encode(
        emb, "vec_id", "embedding", m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER,
        expected_dim=_PQ_DIM,
    )
    book_lits = [
        F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in books[s]])
        for s in range(_PQ_M)
    ]
    dvec = F.concat(
        *[
            F.element_at(book_lits[s], (F.col(f"code_{s}") + 1).cast("int"))
            for s in range(_PQ_M)
        ]
    )
    dec = codes.select(F.col("id").alias("neighbor_id"), dvec.alias("dvec")).withColumn(
        "d_n", F.sqrt(dot_expr(F.col("dvec"), F.col("dvec")))
    )
    c_asg, q_asg = ivf_assignments(emb, emb.filter(F.col("vec_id") < N_QUERIES))
    q = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        .withColumn("q_n", F.sqrt(dot_expr(F.col("qvec"), F.col("qvec"))))
    )
    cand = (
        c_asg.select("neighbor_id", "cell")
        .join(F.broadcast(q_asg.select("query_id", "cell")), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    adc = (
        dec.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "pq_micros",
            F.round(
                dot_expr(F.col("qvec"), F.col("dvec"))
                / (F.col("q_n") * F.col("d_n"))
                * 1_000_000
            ).cast("long"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_micros").desc(), F.col("neighbor_id")
    )
    shortlist = (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _IVFPQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    exact_side = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    ).withColumn("c_n", F.sqrt(dot_expr(F.col("cvec"), F.col("cvec"))))
    rer = (
        exact_side.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "sim_micros",
            F.round(
                dot_expr(F.col("qvec"), F.col("cvec"))
                / (F.col("q_n") * F.col("c_n"))
                * 1_000_000
            ).cast("long"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim_micros").desc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "sim_micros")
    )


def _residual_ivfpq_oracle_sql() -> str:
    """True-FAISS IVFPQ replay: coarse assignment, residual = vector
    minus its cell centroid, the eight subspace fits run over the
    RESIDUAL CTE, decode, centroid re-add (reconstruction), ADC
    shortlist, exact refine."""
    chains = _pq_chains_and_dec_sql(
        _PQ_M, _PQ_K, _PQ_ITER, _PQ_DIM, base_from="resid", base_col="rv"
    )
    return f"""
    WITH cents0 AS (
      SELECT vec_id AS cent_id, embedding AS cent_vec
      FROM embeddings WHERE vec_id % 37 = 0 ORDER BY vec_id LIMIT 16),
    cents AS (
      SELECT cent_id, cent_vec, {_CENT_NORM} AS cent_n
      FROM cents0 WHERE {_CENT_NORM} > 0),
    c_assign AS (
      SELECT vec_id AS neighbor_id, embedding AS cvec, cent_id AS cell
      FROM embeddings, cents
      QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY {_IVF_SCORE} DESC, cent_id ASC) = 1),
    q_assign AS (
      SELECT vec_id AS query_id, embedding AS qvec, cent_id AS cell
      FROM embeddings, cents
      WHERE vec_id < {N_QUERIES}
      QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY {_IVF_SCORE} DESC, cent_id ASC) <= 4),
    resid AS (
      SELECT c.neighbor_id AS vec_id,
             list_transform(generate_series(1, {_PQ_DIM}),
               j -> c.cvec[j]::DOUBLE - ct.cent_vec[j]::DOUBLE) AS rv
      FROM c_assign c JOIN cents ct ON c.cell = ct.cent_id),
    {chains},
    rec AS (
      SELECT d.neighbor_id,
             list_transform(generate_series(1, {_PQ_DIM}),
               j -> ct.cent_vec[j]::DOUBLE + d.dvec[j]) AS dvec
      FROM dec d
      JOIN c_assign c ON d.neighbor_id = c.neighbor_id
      JOIN cents ct ON c.cell = ct.cent_id),
    cand AS (
      SELECT query_id, qvec, neighbor_id
      FROM c_assign JOIN q_assign USING (cell)
      WHERE query_id <> neighbor_id),
    adc AS (
      SELECT query_id, neighbor_id, {_ADC_MICROS} AS pq_micros
      FROM cand JOIN rec USING (neighbor_id)),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY pq_micros DESC, neighbor_id) AS rn
        FROM adc)
      WHERE rn <= {_IVFPQ_SHORTLIST}),
    q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
          WHERE vec_id < {N_QUERIES}),
    rer AS (
      SELECT s.query_id, s.neighbor_id,
             {_cos_micros_sql('qvec', 'cvec')} AS sim_micros
      FROM shortlist s
      JOIN (SELECT vec_id AS neighbor_id, embedding AS cvec
            FROM embeddings) e USING (neighbor_id)
      JOIN q USING (query_id))
    SELECT query_id, neighbor_id, rank, sim_micros FROM (
      SELECT query_id, neighbor_id, sim_micros,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY sim_micros DESC, neighbor_id) AS BIGINT) AS rank
      FROM rer)
    WHERE rank <= {TOP_K}
    """


@query(
    "ann_ivfpq_residual_topk",
    oracle=_residual_ivfpq_oracle_sql(),
    doc="TRUE-FAISS IVFPQ: the codebooks quantize RESIDUALS (vector "
    "minus its coarse-cell centroid), not raw vectors — residuals "
    "cluster tighter around zero, so the same 8x32 code budget "
    "carries more signal; decode re-adds the centroid "
    "(reconstruction) before the ADC shortlist and exact refine. "
    "This closes ann_ivfpq_topk's documented raw-code divergence; "
    "both variants stay registered so the calibration is measurable "
    "(recall pytest compares them). Every stage remains value-"
    "oracled: the SQL computes the residual CTE, runs all eight "
    "subspace fits OVER THE RESIDUALS (the generator's chains "
    "re-pointed at the resid CTE), reconstructs, and mirrors both "
    "scoring folds. Scale: the residual subtract is one broadcast "
    "join against 16 centroids (map-side); everything else is "
    "ann_ivfpq_topk's shape.",
    tags=("ann", "pipeline"),
)
def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from utility_service_areas_spark.operators.ann import (
        dot_expr,
        ivf_assignments,
        ivf_centroids,
        pq_encode,
    )
    from utility_service_areas_spark.operators.dedup import lineage_cut

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb)
    cellcent = cents.select(F.col("cent_id").alias("cell"), "cent_vec")
    c_asg, q_asg = ivf_assignments(emb, emb.filter(F.col("vec_id") < N_QUERIES))
    resid = lineage_cut(  # consumed by m fits + encode + cell join-back
        c_asg.join(F.broadcast(cellcent), "cell").select(
            "neighbor_id",
            "cell",
            F.zip_with(
                "c_vec",
                "cent_vec",
                lambda a, b: a.cast("double") - b.cast("double"),
            ).alias("rvec"),
        )
    )
    codes, books = pq_encode(
        resid, "neighbor_id", "rvec", m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER,
        expected_dim=_PQ_DIM,
    )
    book_lits = [
        F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in books[s]])
        for s in range(_PQ_M)
    ]
    rdvec = F.concat(
        *[
            F.element_at(book_lits[s], (F.col(f"code_{s}") + 1).cast("int"))
            for s in range(_PQ_M)
        ]
    )
    rec = (
        codes.select(F.col("id").alias("neighbor_id"), rdvec.alias("rdvec"))
        .join(resid.select("neighbor_id", "cell"), "neighbor_id")
        .join(F.broadcast(cellcent), "cell")
        .select(
            "neighbor_id",
            F.zip_with(
                "cent_vec", "rdvec", lambda a, b: a.cast("double") + b
            ).alias("dvec"),
        )
        .withColumn("d_n", F.sqrt(dot_expr(F.col("dvec"), F.col("dvec"))))
    )
    q = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        .withColumn("q_n", F.sqrt(dot_expr(F.col("qvec"), F.col("qvec"))))
    )
    cand = (
        c_asg.select("neighbor_id", "cell")
        .join(F.broadcast(q_asg.select("query_id", "cell")), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    adc = (
        rec.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "pq_micros",
            F.round(
                dot_expr(F.col("qvec"), F.col("dvec"))
                / (F.col("q_n") * F.col("d_n"))
                * 1_000_000
            ).cast("long"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_micros").desc(), F.col("neighbor_id")
    )
    shortlist = (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _IVFPQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    exact_side = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    ).withColumn("c_n", F.sqrt(dot_expr(F.col("cvec"), F.col("cvec"))))
    rer = (
        exact_side.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "sim_micros",
            F.round(
                dot_expr(F.col("qvec"), F.col("cvec"))
                / (F.col("q_n") * F.col("c_n"))
                * 1_000_000
            ).cast("long"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim_micros").desc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "sim_micros")
    )


# Session-scoped cache of built index dirs, keyed by corpus location:
# the first ann_ivfpq_search_persisted call in a process BUILDS the
# parquet index, every later call (bench loops, repeated driver walks)
# SEARCHES the existing artifacts — the build-once -> search-many
# lifecycle demonstrated inside one session. Never keyed on content:
# a fresh process always rebuilds, so a changed corpus can't serve a
# stale index across runs.
_PERSISTED_INDEX_DIRS: dict[str, str] = {}


@query(
    "ann_ivfpq_search_persisted",
    oracle=_residual_ivfpq_oracle_sql(),
    doc="The persisted vector-index LIFECYCLE (FAISS write_index/"
    "read_index/add contract): build_ivfpq_index fits the residual "
    "IVFPQ index ONCE and persists it as parquet artifacts "
    "(centroids/, codes/ with cell + m sub-codes) plus a manifest "
    "carrying the PQ codebooks (JSON doubles round-trip exactly); "
    "manifest-written-LAST is the commit marker, so a crashed build "
    "is never readable. This query then answers the probe workload "
    "purely FROM THE ARTIFACTS (operators/vector_index.py:"
    "search_ivfpq_index — #172's scoring expressions operand for "
    "operand: persisted-centroid multi-probe, codebook decode + "
    "centroid re-add, ADC shortlist, exact refine against the source "
    "table), and is therefore row-identical to the inline "
    "ann_ivfpq_residual_topk — same oracle SQL attests both. Within "
    "a session the built index dir is cached: first call builds, "
    "every later call searches artifacts only. Incremental add "
    "(encode new vectors against FROZEN centroids+codebooks, append "
    "codes) is pinned separately in tests/test_vector_index.py. "
    "Scale: centroids+codebooks are KB broadcasts; codes/ is the "
    "only corpus-sized artifact (m ints per vector) and streams "
    "through the cell equi-join; refine touches shortlist/n floats.",
    tags=("ann", "pipeline"),
)
def ann_ivfpq_search_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from utility_service_areas_spark.operators.vector_index import (
        build_ivfpq_index,
        load_ivfpq_index,
        search_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    key = os.path.abspath(sf_dir)
    index_dir = _PERSISTED_INDEX_DIRS.get(key)
    if index_dir is not None:
        try:  # verify the cached dir still holds a committed index
            load_ivfpq_index(spark, index_dir)
        except (FileNotFoundError, ValueError):
            index_dir = None
    if index_dir is None:
        index_dir = tempfile.mkdtemp(prefix="usa_ivfpq_")
        build_ivfpq_index(
            emb, index_dir, m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER, dim=_PQ_DIM
        )
        _PERSISTED_INDEX_DIRS[key] = index_dir
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return search_ivfpq_index(
        spark,
        index_dir,
        queries,
        emb,
        n_probe=4,
        shortlist=_IVFPQ_SHORTLIST,
        top_k=TOP_K,
    )


_PCA_ITER = 4


def _power_pc_cte_sql(n_iter: int = _PCA_ITER, dim: int = 64) -> str:
    """Unrolled SQL CTE chain replaying operators/pca.py:
    power_iteration_top_pc bit for bit: micros-BIGINT mean, fixed
    v0 = (1/sqrt(dim), ...) — float-exact 0.125 at dim 64 — then per
    iteration a sequential-fold score w = cvec·v
    (list_sum(list_transform) = the JVM fold, the proven seam), a
    micros-BIGINT per-dim update (integer sums are combine-order
    independent, so the distributed fit and the replay agree
    exactly), and an IEEE-exact sqrt-normalize. Ends at CTEs
    `pcent` / `pv{n_iter}`; the caller projects with the final
    direction."""
    parts = [
        "pbase AS (",
        "  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec",
        "  FROM embeddings),",
        "pmu AS (",
        "  SELECT list((s / 1000000.0) / n ORDER BY dim) AS mu",
        "  FROM (",
        "    SELECT j AS dim,",
        "           sum(CAST(round(vec[j] * 1000000) AS BIGINT)) AS s,",
        "           count(*) AS n",
        f"    FROM pbase, unnest(generate_series(1, {dim})) AS t(j)",
        "    GROUP BY 1)),",
        "pcent AS (",
        "  SELECT vec_id,",
        f"         list_transform(generate_series(1, {dim}),"
        " j -> vec[j] - mu[j]) AS cvec",
        "  FROM pbase, pmu),",
        _power_fit_chain_sql("p", "pcent", "cvec", n_iter, dim),
    ]
    return "\n".join(parts)


def _power_fit_chain_sql(
    p: str, src: str, vcol: str, n_iter: int = _PCA_ITER, dim: int = 64
) -> str:
    """The fit loop alone, prefixed: {p}v0 .. {p}v{n_iter} over
    `{src}.{vcol}` (already centered/deflated). `_power_pc_cte_sql`
    composes it for PC1 (byte-identical to the pre-refactor chain for
    the defaults); the PC2 oracle re-invokes it over the deflated
    frame — the same prefix trick as `_kmeans_cte_sql`."""
    import math as _math

    v0 = repr(1.0 / _math.sqrt(dim))
    parts = [
        f"{p}v0 AS (",
        f"  SELECT list_transform(generate_series(1, {dim}),"
        f" j -> {v0}) AS v)",
    ]
    for i in range(n_iter):
        parts += [
            f", {p}w{i} AS (",
            f"  SELECT vec_id, {vcol},",
            f"         list_sum(list_transform(generate_series(1, {dim}),"
            f" j -> {vcol}[j] * v[j])) AS w",
            f"  FROM {src}, {p}v{i}),",
            f"{p}s{i} AS (",
            "  SELECT list(s / 1000000.0 ORDER BY dim) AS u",
            "  FROM (",
            "    SELECT j AS dim,",
            f"           sum(CAST(round(w * {vcol}[j] * 1000000) AS BIGINT)) AS s",
            f"    FROM {p}w{i}, unnest(generate_series(1, {dim})) AS t(j)",
            "    GROUP BY 1)),",
            f"{p}v{i + 1} AS (",
            "  SELECT list_transform(u, x -> x /",
            "    sqrt(list_sum(list_transform(u, y -> y * y)))) AS v",
            f"  FROM {p}s{i})",
        ]
    return "\n".join(parts)


@query(
    "embedding_pca_project",
    oracle=f"""
    WITH {_power_pc_cte_sql()}
    SELECT vec_id,
           CAST(round(list_sum(list_transform(generate_series(1, 64),
                  j -> cvec[j] * v[j])) * 1000000) AS BIGINT) AS pc1_micros
    FROM pcent, pv{_PCA_ITER}
    """,
    doc="Top-principal-component projection via distributed power "
    "iteration (operators/pca.py) — the embedding-whitening / "
    "dominant-direction diagnostic a curation pipeline runs before "
    "SemDeDup-style clustering: mean-center, then "
    f"{_PCA_ITER} rounds of v <- normalize(Sigma_x (x-mu)((x-mu)"
    "*v)), each round ONE distributed posexplode agg whose per-dim "
    "sums are micros-BIGINT (combine-order independent => the fit "
    "is bit-replayable by the unrolled SQL chain, the same "
    "contract as embedding_kmeans_assign); within-row dot products "
    "are sequential JVM folds; only 64 doubles of direction state "
    "ever reach the driver per round. Output is each vector's "
    "signed projection onto the fitted direction, in micros. Scale "
    "shape: the corpus is never shuffled — every round is map-side "
    "fold + partial-agged posexplode; at 100 TB you fit on a "
    "sample and keep the single projection pass, identical plan.",
    tags=("embedding",),
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.pca import power_iteration_top_pc

    emb = load_table(spark, sf_dir, "embeddings")
    proj, _v = power_iteration_top_pc(
        emb, "vec_id", "embedding", dim=64, n_iter=_PCA_ITER
    )
    return proj.select(F.col("id").alias("vec_id"), "pc1_micros")


@query(
    "embedding_pca_map",
    oracle=f"""
    WITH {_power_pc_cte_sql()},
    qin AS (
      SELECT vec_id, cvec,
             list_sum(list_transform(generate_series(1, 64),
               j -> cvec[j] * v[j])) AS w1
      FROM pcent, pv{_PCA_ITER}),
    qcent AS (
      SELECT vec_id, w1,
             list_transform(generate_series(1, 64),
               j -> cvec[j] - w1 * v[j]) AS cvec2
      FROM qin, pv{_PCA_ITER}),
    {_power_fit_chain_sql("q", "qcent", "cvec2")}
    SELECT vec_id,
           CAST(round(w1 * 1000000) AS BIGINT) AS pc1_micros,
           CAST(round(list_sum(list_transform(generate_series(1, 64),
                  j -> cvec2[j] * v[j])) * 1000000) AS BIGINT) AS pc2_micros
    FROM qcent, qv{_PCA_ITER}
    """,
    doc="2-D PCA curation map (PC1 x PC2): the standard corpus "
    "visualization / diversity-binning projection. PC1 as in "
    "embedding_pca_project, then Hotelling deflation (cvec2 = cvec "
    "- (cvec.v1) v1 — a pure map-side zip_with, no new shuffle; the "
    "deflated frame keeps the quantized-zero mean so the second fit "
    "does not re-center) and an identical power-iteration fit for "
    "v2 — the SQL replay re-invokes the same prefixed fit chain "
    "over the deflated CTE, the _kmeans_cte_sql composition trick. "
    "Scale shape: identical to the PC1 query run twice — per round "
    "ONE posexplode partial agg, 64 doubles to the driver; the "
    "corpus is never shuffled.",
    tags=("embedding",),
)
def embedding_pca_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.pca import power_iteration_two_pc

    emb = load_table(spark, sf_dir, "embeddings")
    proj, _v1, _v2 = power_iteration_two_pc(
        emb, "vec_id", "embedding", dim=64, n_iter=_PCA_ITER
    )
    return proj.select(
        F.col("id").alias("vec_id"), "pc1_micros", "pc2_micros"
    )


def _cluster_quality_oracle_sql(k: int = 8, n_iter: int = 5, dim: int = 64) -> str:
    """Per-cluster quality over the replayed kmeans fit: the chain's
    `fin` CTE gives assignments+distances, `c{n_iter}` the final
    centroids; separation is the min inter-centroid d2 with the SAME
    sequential fold + micros quantization the Spark side computes in
    plain Python over the collected k x dim centroid list."""
    d2 = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        "j -> (a.cvec[j] - b.cvec[j]) * (a.cvec[j] - b.cvec[j])))"
    )
    return (
        _kmeans_cte_sql(k, n_iter, dim)
        + f""",
    per AS (
      SELECT cluster, count(*) AS n_vectors,
             CAST(sum(CAST(round(d * 1000000) AS BIGINT)) AS BIGINT)
               AS sse_micros,
             CAST(max(CAST(round(d * 1000000) AS BIGINT)) AS BIGINT)
               AS max_dist2_micros
      FROM fin GROUP BY cluster),
    sep AS (
      SELECT a.cluster,
             min(CAST(floor({d2} * 1000000 + 0.5) AS BIGINT))
               AS nearest_centroid_d2_micros
      FROM c{n_iter} a, c{n_iter} b WHERE a.cluster != b.cluster
      GROUP BY a.cluster)
    SELECT p.cluster, p.n_vectors, p.sse_micros, p.max_dist2_micros,
           s.nearest_centroid_d2_micros
    FROM per p JOIN sep s USING (cluster)"""
    )


@query(
    "kmeans_cluster_quality",
    oracle=_cluster_quality_oracle_sql(),
    doc="Cluster-quality report over the k-means fit (the "
    "cohesion/separation health check a curation run reads before "
    "trusting SemDeDup-style within-cluster dedup): per cluster the "
    "member count, within-cluster SSE and max point distance (all "
    "integer micros — per-row quantization makes the SSE "
    "combine-order independent), plus the distance to the nearest "
    "other centroid (a Davies-Bouldin-style separation denominator). "
    "The separation is computed driver-side in plain Python over the "
    "collected k x dim centroid list with the SAME sequential fold "
    "and micros quantization the SQL replay uses — k*k tiny, never a "
    "corpus op. Scale shape: one fit (bounded driver state per "
    "round), one Arrow-batched assignment pass, one k-row partial "
    "agg; the corpus never shuffles.",
    tags=("ann",),
)
def kmeans_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.kmeans import (
        _np_final_assign,
        fit_centroids_np_multi,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    (centroids,) = fit_centroids_np_multi(base, k=8, n_iter=5, m=1)
    assign = _np_final_assign(base, centroids)
    per = assign.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("dist2_micros").alias("sse_micros"),
        F.max("dist2_micros").alias("max_dist2_micros"),
    )
    # k x k separation in plain Python: sequential left-fold per pair
    # (== DuckDB list_sum(list_transform)), micros via floor(x*1e6+0.5).
    import math

    sep_rows = []
    for ci, a in enumerate(centroids):
        best = None
        for cj, b in enumerate(centroids):
            if ci == cj:
                continue
            d = 0.0
            for j in range(len(a)):
                diff = a[j] - b[j]
                d += diff * diff
            m = int(math.floor(d * 1_000_000 + 0.5))
            if best is None or m < best:
                best = m
        sep_rows.append((ci, best))
    sep = local_df(spark, 
        sep_rows, "cluster long, nearest_centroid_d2_micros long"
    )
    return per.join(F.broadcast(sep), "cluster")


_SWEEP_PROBES = (1, 2, 4)


@query(
    "ann_ivf_probe_recall",
    oracle=f"""
    WITH cents0 AS (
      SELECT vec_id AS cent_id, embedding AS cent_vec
      FROM embeddings WHERE vec_id % 37 = 0 ORDER BY vec_id LIMIT 16),
    cents AS (
      SELECT cent_id, cent_vec, {{cn}} AS cent_n
      FROM cents0 WHERE {{cn}} > 0),
    c_assign AS (
      SELECT vec_id AS neighbor_id, embedding AS c_vec, cent_id AS cell
      FROM embeddings, cents
      QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY {{sc}} DESC, cent_id ASC) = 1),
    q_assign AS (
      SELECT vec_id AS query_id, embedding AS q_vec, cent_id AS cell,
             row_number() OVER (PARTITION BY vec_id
                ORDER BY {{sc}} DESC, cent_id ASC) AS cell_rank
      FROM embeddings, cents
      WHERE vec_id < {{nq}}
      QUALIFY cell_rank <= {{pmax}}),
    probes(probe) AS (VALUES {{pvals}}),
    cand AS (
      SELECT p.probe, q.query_id, c.neighbor_id,
             {{cos}} AS sim_micros
      FROM q_assign q JOIN c_assign c USING (cell), probes p
      WHERE q.cell_rank <= p.probe AND q.query_id <> c.neighbor_id),
    approx AS (
      SELECT probe, query_id, neighbor_id FROM (
        SELECT probe, query_id, neighbor_id,
               row_number() OVER (PARTITION BY probe, query_id
                      ORDER BY sim_micros DESC, neighbor_id) AS rk
        FROM cand) WHERE rk <= {{k}}),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {{tcos}} DESC, c.vec_id) AS rk
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {{nq}}) WHERE rk <= {{k}}),
    costs AS (
      SELECT probe, count(*) AS n_candidates FROM cand GROUP BY 1),
    hits AS (
      SELECT a.probe, count(*) AS n_hits
      FROM approx a JOIN truth t USING (query_id, neighbor_id)
      GROUP BY 1)
    SELECT p.probe,
           CAST({{nq}} AS BIGINT) AS n_queries,
           CAST(co.n_candidates AS BIGINT) AS n_candidates,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 1000000 // ({{nq}} * {{k}}) AS BIGINT)
             AS recall_micros
    FROM probes p LEFT JOIN costs co USING (probe)
                  LEFT JOIN hits h USING (probe)
    """.format(
        cn=_CENT_NORM,
        sc=_IVF_SCORE,
        nq=N_QUERIES,
        pmax=max(_SWEEP_PROBES),
        pvals=", ".join(f"({p})" for p in _SWEEP_PROBES),
        cos=_cos_micros_sql("q.q_vec", "c.c_vec"),
        tcos=_cos_micros_sql("q.embedding", "c.embedding"),
        k=TOP_K,
    ),
    doc="IVF serving-tuning table: recall@10 AND candidate-scan cost "
    "for n_probe in {1, 2, 4} in ONE pass — the matryoshka-style "
    "lever table (#169) for the probe knob: a 100 TB serving tier "
    "reads off how much recall each extra probed cell buys per "
    "candidates scanned. Every stage is the deterministic IVF replay "
    "(#51's oracle) extended with a probe dimension: the query cell "
    "RANK is computed once, a candidate at rank r serves every probe "
    ">= r, and recall joins against the exact brute-force truth. "
    "recall_micros is integer floor-division. Scale shape: the "
    "corpus assignment and the probe join run ONCE at the largest "
    "probe; the probe dimension is a 3-row broadcast fan-out of the "
    "CANDIDATE frame (bounded by n_probe_max * n/C per query), never "
    "a corpus re-scan; the brute truth side is queries x corpus — "
    "the calibration cost you pay once per tuning run, not per "
    "query.",
    tags=("ann",),
)
def ann_ivf_probe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from utility_service_areas_spark.operators.ann import (
        _paired_sim_micros,
        brute_force_topk,
        ivf_assignments,
        ivf_centroids,
        dot_expr,
        norm2_expr,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    pmax = max(_SWEEP_PROBES)

    c_assigned, _ = ivf_assignments(
        emb, queries_df, n_centroids=16, n_probe=pmax
    )
    # query cells WITH their rank (ivf_assignments drops it): tiny
    # queries x 16-centroid cross, same score + tiebreak as the
    # operator
    cents = ivf_centroids(emb, n_centroids=16)
    qs = (
        queries_df.select(F.col("vec_id").alias("query_id"), "embedding")
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "cent_score",
            dot_expr(F.col("embedding"), F.col("cent_vec")) / F.col("cent_n"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cent_score").desc(), F.col("cent_id").asc()
    )
    q_cells = (
        qs.withColumn("cell_rank", F.row_number().over(wq))
        .filter(F.col("cell_rank") <= pmax)
        .select(
            "query_id",
            F.col("embedding").alias("q_vec"),
            norm2_expr(F.col("embedding")).alias("q_n"),
            F.col("cent_id").alias("cell"),
            "cell_rank",
        )
    )
    probes = local_df(spark, [(p,) for p in _SWEEP_PROBES], "probe int")
    cand = (
        q_cells.join(c_assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .crossJoin(F.broadcast(probes))
        .filter(F.col("cell_rank") <= F.col("probe"))
        .withColumn("sim_micros", _paired_sim_micros())
        .select("probe", "query_id", "neighbor_id", "sim_micros")
    )
    from utility_service_areas_spark.operators.dedup import lineage_cut

    cand = lineage_cut(cand)  # consumed by the rank stage AND the cost agg
    wr = Window.partitionBy("probe", "query_id").orderBy(
        F.col("sim_micros").desc(), F.col("neighbor_id").asc()
    )
    approx = (
        cand.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= TOP_K)
        .select("probe", "query_id", "neighbor_id")
    )
    truth = brute_force_topk(emb, queries_df, k=TOP_K).select(
        "query_id", "neighbor_id"
    )
    costs = cand.groupBy("probe").agg(F.count(F.lit(1)).alias("n_candidates"))
    hits = (
        approx.join(truth, ["query_id", "neighbor_id"])
        .groupBy("probe")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        probes.join(F.broadcast(costs), "probe", "left")
        .join(F.broadcast(hits), "probe", "left")
        .select(
            "probe",
            F.lit(N_QUERIES).cast("long").alias("n_queries"),
            F.col("n_candidates").cast("long"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.expr(
                f"coalesce(n_hits, 0) * 1000000 div ({N_QUERIES} * {TOP_K})"
            )
            .cast("long")
            .alias("recall_micros"),
        )
    )


_LSH_SWEEP_PLANES = (2, 4, 6)


def _lsh_sweep_oracle_sql() -> str:
    per_p = []
    for p in _LSH_SWEEP_PLANES:
        per_p.append(f"""
    b{p} AS (
      SELECT vec_id, embedding,
             {_lsh_bucket_sql("embedding", n_planes=p)} AS bucket
      FROM embeddings),
    q{p} AS (SELECT query_id, q_vec, pb AS bucket FROM (
            SELECT vec_id AS query_id, embedding AS q_vec, bucket
            FROM b{p} WHERE vec_id < {N_QUERIES}),
          unnest({_lsh_probes_sql("bucket", p)}) AS t(pb)),
    cand{p} AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_cos_micros_sql('q.q_vec', 'c.embedding')} AS sim_micros
      FROM b{p} c JOIN q{p} q USING (bucket)
      WHERE q.query_id <> c.vec_id),
    stat{p} AS (
      SELECT {p} AS n_planes,
             count(*) AS n_candidates,
             sum(hit) AS n_hits
      FROM (
        SELECT c.query_id, c.neighbor_id,
               max(CASE WHEN t.neighbor_id IS NOT NULL AND c.rk <= {TOP_K}
                   THEN 1 ELSE 0 END) AS hit
        FROM (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY sim_micros DESC, neighbor_id) AS rk
              FROM cand{p}) c
        LEFT JOIN truth t USING (query_id, neighbor_id)
        GROUP BY 1, 2))""")
    unions = " UNION ALL ".join(
        f"SELECT * FROM stat{p}" for p in _LSH_SWEEP_PLANES
    )
    return f"""
    WITH truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_cos_micros_sql('q.embedding', 'c.embedding')} DESC,
                          c.vec_id) AS rk
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES}) WHERE rk <= {TOP_K}),
    {",".join(per_p)}
    SELECT n_planes, CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_hits * 1000000 // ({N_QUERIES} * {TOP_K}) AS BIGINT)
             AS recall_micros
    FROM ({unions})
    """


@query(
    "ann_lsh_plane_sweep",
    oracle=_lsh_sweep_oracle_sql(),
    doc="LSH plane-count serving-tuning table: recall@10 and "
    "candidate volume for n_planes in {2, 4, 6} — the bucket-"
    "granularity lever (each plane halves expected bucket size and "
    "costs recall; multi-probe Hamming-1 wins some back). Unlike the "
    "IVF probe sweep (#201), plane counts are NOT nested — every p "
    "re-buckets the corpus — so the sweep honestly pays one MAP-SIDE "
    "bucketing pass per p (the md5-derived plane folds), never a "
    "pair-explosion: candidates stay bucket-join bound per p, and "
    "recall joins the shared brute-force truth. n_hits counts "
    "DISTINCT (query, truth-neighbor) pairs found at rank <= 10 (a "
    "candidate reachable via two probes counts once). Scale shape: "
    "3 bucketing map passes + 3 bucket equi-joins + one truth "
    "calibration join; the lever table a serving tier reads before "
    "fixing its bucket granularity.",
    tags=("ann",),
)
def ann_lsh_plane_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from utility_service_areas_spark.operators.ann import (
        _bit_flip,
        _paired_sim_micros,
        brute_force_topk,
        hyperplane_lsh_bucket,
        norm2_expr,
    )
    from utility_service_areas_spark.operators.dedup import lineage_cut

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    truth = lineage_cut(
        brute_force_topk(emb, queries_df, k=TOP_K).select(
            "query_id", "neighbor_id", F.lit(1).alias("is_truth")
        )
    )
    per_p = []
    for p in _LSH_SWEEP_PLANES:
        bucket = hyperplane_lsh_bucket(F.col("embedding"), 64, p)
        c = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_vec"),
            norm2_expr(F.col("embedding")).alias("c_n"),
            bucket.alias("bucket"),
        )
        probes = F.array(
            F.col("bucket"),
            *[_bit_flip(F.col("bucket"), i, p) for i in range(p)],
        )
        q = queries_df.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
            norm2_expr(F.col("embedding")).alias("q_n"),
            bucket.alias("bucket"),
        ).select("query_id", "q_vec", "q_n", F.explode(probes).alias("bucket"))
        cand = (
            c.join(F.broadcast(q), "bucket")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("sim_micros", _paired_sim_micros())
            .select("query_id", "neighbor_id", "sim_micros")
        )
        cand = lineage_cut(cand)  # count + rank consumers
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim_micros").desc(), F.col("neighbor_id").asc()
        )
        ranked = cand.withColumn("rk", F.row_number().over(w))
        hits = (
            ranked.join(truth, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id", "neighbor_id")
            .agg(
                F.max(
                    F.when(
                        F.col("is_truth").isNotNull() & (F.col("rk") <= TOP_K),
                        1,
                    ).otherwise(0)
                ).alias("hit")
            )
        )
        per_p.append(
            cand.agg(F.count(F.lit(1)).alias("n_candidates"))
            .crossJoin(
                F.broadcast(hits.agg(F.sum("hit").alias("n_hits")))
            )
            .select(
                F.lit(p).alias("n_planes"),
                F.col("n_candidates").cast("long"),
                F.col("n_hits").cast("long"),
                F.expr(
                    f"n_hits * 1000000 div ({N_QUERIES} * {TOP_K})"
                )
                .cast("long")
                .alias("recall_micros"),
            )
        )
    out = per_p[0]
    for frame in per_p[1:]:
        out = out.unionByName(frame)
    return out


# --- #221 k-NN graph by NN-descent ----------------------------------
_KNNG_K = 10
_KNNG_ROUNDS = 3
_KNNG_INIT = 25  # md5-seeded init candidates per vertex (dups collapse)


def _knng_score_topk_sql(pairs_cte: str, k: int) -> str:
    cos = _cos_micros_sql("a.embedding", "b.embedding")
    return f"""
      SELECT src, dst, sim_micros, CAST(rk AS BIGINT) AS rank FROM (
        SELECT src, dst, sim_micros,
               row_number() OVER (PARTITION BY src
                                  ORDER BY sim_micros DESC, dst ASC) AS rk
        FROM (SELECT p.src, p.dst, {cos} AS sim_micros
              FROM {pairs_cte} p
              JOIN embeddings a ON a.vec_id = p.src
              JOIN embeddings b ON b.vec_id = p.dst))
      WHERE rk <= {k}"""


def _knng_oracle_sql(
    k: int = _KNNG_K, rounds: int = _KNNG_ROUNDS, n_init: int = _KNNG_INIT
) -> str:
    h = (
        "('0x' || substr(md5(CAST(e.vec_id AS VARCHAR) || ':' || "
        "CAST(j AS VARCHAR)), 1, 15))::BIGINT % nn.n"
    )
    parts = [
        f"""
    WITH nn AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
    ids AS MATERIALIZED (
      SELECT vec_id,
             CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS idx
      FROM embeddings),
    init AS (
      SELECT DISTINCT e.vec_id AS src, i.vec_id AS dst
      FROM embeddings e CROSS JOIN nn
      CROSS JOIN (SELECT unnest(generate_series(1, {n_init})) AS j) s
      JOIN ids i ON i.idx = {h}
      WHERE i.vec_id <> e.vec_id),
    e0 AS MATERIALIZED ({_knng_score_topk_sql('init', k)})"""
    ]
    for r in range(1, rounds + 1):
        prev = f"e{r - 1}"
        parts.append(
            f"""
    u{r} AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM {prev}
        UNION ALL
        SELECT dst AS src, src AS dst FROM (
          SELECT src, dst,
                 row_number() OVER (PARTITION BY dst
                                    ORDER BY sim_micros DESC, src ASC) AS rr
          FROM {prev}) WHERE rr <= {k})),
    c{r} AS (
      SELECT DISTINCT src, dst FROM (
        SELECT x.src, y.dst FROM u{r} x JOIN u{r} y ON y.src = x.dst
        WHERE x.src <> y.dst
        UNION ALL SELECT src, dst FROM u{r})),
    e{r} AS MATERIALIZED ({_knng_score_topk_sql(f'c{r}', k)})"""
        )
    parts.append(
        f"""
    SELECT src AS vec_id, dst AS neighbor_id, rank, sim_micros
    FROM e{rounds}"""
    )
    return ",".join(parts[:-1]) + parts[-1]


@query(
    "embedding_knn_graph",
    oracle=_knng_oracle_sql(),
    doc="Approximate k-NN graph (k=10) over the embedding corpus by "
    "NN-descent (Dong, Moses & Li, WWW'11), 3 FIXED rounds — the "
    "scale-standard fix for SemDeDup's cluster-boundary recall bias "
    "(VERDICT r11 task #6): the neighbors-of-neighbors closure needs "
    "no partitioning decision at all. Init is md5-seeded (the integer-"
    "hash seam), each round caps reverse edges at k per head (hub "
    "degree can't blow the candidate set: O(k²) per vertex), scores "
    "candidates with the shared sequential-fold cosine, and keeps "
    "top-k. Fully deterministic, every round replayed by the oracle's "
    "unrolled MATERIALIZED CTE chain. Recall honesty (the PQ-on-random "
    "precedent — never game a pin, document): on CLUSTERED data (NN-"
    "descent's design premise) 2 rounds reach 0.99 recall@10 (pytest-"
    "pinned >=0.9 on a 12-cluster substrate); on this driver substrate "
    "(uniform random, no locality for the closure to exploit) it "
    "plateaus ~0.5-0.6 — measured offline at sf0.1, documented here.",
    tags=("ann",),
)
def embedding_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.ann import nn_descent_graph

    emb = load_table(spark, sf_dir, "embeddings")
    return nn_descent_graph(
        emb, k=_KNNG_K, rounds=_KNNG_ROUNDS, n_init=_KNNG_INIT
    )


# --- #229 MMR diverse reranking --------------------------------------
_MMR_SELECT = 5  # diverse picks per query (from the cosine top-10)
# lambda = 0.7 kept RATIONAL: mmr ordering by 7*rel - 3*max_sim (x10 of
# the textbook score) — pure BIGINT, division only for the output col.


def _mmr_oracle_sql(n_select: int = _MMR_SELECT) -> str:
    cos = _cos_micros_sql("a.embedding", "b.embedding")
    parts = [
        f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c0 AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             {_cos_micros_sql('q_vec', 'c_vec')} AS sim_micros
      FROM q JOIN c0 ON query_id <> neighbor_id),
    cand AS MATERIALIZED (
      SELECT query_id, neighbor_id, sim_micros AS rel, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY sim_micros DESC, neighbor_id ASC) AS BIGINT)
                    AS rank
        FROM scored)
      WHERE rank <= {TOP_K}),
    pair AS MATERIALIZED (
      SELECT x.query_id, x.neighbor_id AS na, y.neighbor_id AS nb,
             {cos} AS sim_micros
      FROM cand x
      JOIN cand y ON y.query_id = x.query_id
                 AND y.neighbor_id <> x.neighbor_id
      JOIN embeddings a ON a.vec_id = x.neighbor_id
      JOIN embeddings b ON b.vec_id = y.neighbor_id),
    sel1 AS MATERIALIZED (
      SELECT query_id, neighbor_id, rel,
             CAST(1 AS BIGINT) AS mmr_rank,
             CAST(rel AS BIGINT) AS mmr10
      FROM cand WHERE rank = 1)"""
    ]
    for r in range(2, n_select + 1):
        prev = f"sel{r - 1}"
        parts.append(
            f"""
    m{r} AS (
      SELECT c.query_id, c.neighbor_id, c.rel,
             CAST(7 * c.rel - 3 * max(p.sim_micros) AS BIGINT) AS mmr10
      FROM cand c
      LEFT JOIN {prev} x ON x.query_id = c.query_id
                        AND x.neighbor_id = c.neighbor_id
      JOIN {prev} s ON s.query_id = c.query_id
      JOIN pair p ON p.query_id = c.query_id
                 AND p.na = c.neighbor_id AND p.nb = s.neighbor_id
      WHERE x.neighbor_id IS NULL
      GROUP BY 1, 2, 3),
    sel{r} AS MATERIALIZED (
      SELECT query_id, neighbor_id, rel, mmr_rank, mmr10 FROM (
        SELECT query_id, neighbor_id, rel,
               CAST({r} AS BIGINT) AS mmr_rank, mmr10,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY mmr10 DESC, neighbor_id ASC) AS rn
        FROM m{r}) WHERE rn = 1
      UNION ALL SELECT * FROM {prev})"""
        )
    parts.append(
        f"""
    SELECT query_id, mmr_rank, neighbor_id,
           CAST(rel AS BIGINT) AS rel_micros,
           CAST(mmr10 // 10 AS BIGINT) AS mmr_score_micros
    FROM sel{n_select}"""
    )
    return ",".join(parts[:-1]) + parts[-1]


@query(
    "ann_mmr_rerank",
    oracle=_mmr_oracle_sql(),
    doc="Maximal Marginal Relevance diverse reranking (Carbonell & "
    "Goldstein 1998): from each query's cosine top-10, greedily pick "
    "5 results maximizing lambda*relevance - (1-lambda)*max-similarity"
    "-to-already-picked (lambda=0.7, kept rational: the ordering key "
    "is 7*rel - 3*max_sim, pure BIGINT; the textbook /10 only touches "
    "the output column). The redundancy cure for near-duplicate "
    "corpora: a dup cluster spends ONE result slot, not five. Greedy "
    "rounds are inherently sequential, so they unroll — 4 fixed "
    "rounds over QUERY-BOUNDED frames (<=50 candidates, <=450 pair "
    "sims — broadcast-sized by construction at ANY corpus scale, "
    "because the expensive part stays inside the top-k retrieval this "
    "composes over). Round r: anti-join out the picked, max pair-sim "
    "to the picked set, keyed argmax window. First pick = relevance "
    "rank 1 (the MMR base case).",
    tags=("ann",),
)
def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.dedup import lineage_cut

    emb = load_table(spark, sf_dir, "embeddings")
    cand = lineage_cut(
        brute_force_topk(
            emb, emb.filter(F.col("vec_id") < N_QUERIES), k=TOP_K
        ).select(
            "query_id", "neighbor_id", F.col("sim_micros").alias("rel"), "rank"
        )
    )
    return mmr_rerank_frame(emb, cand)


def mmr_rerank_frame(emb: DataFrame, cand: DataFrame) -> DataFrame:
    """MMR diverse rerank over an arbitrary CANDIDATES frame (r13,
    VERDICT task #5): ``cand`` is (query_id, neighbor_id, rel, rank)
    from any retrieval stage over any queries table — the registered
    #229 passes the oracled 3-literal workload's cosine top-10. The
    greedy rounds stay candidate-bounded regardless of workload size
    (pair sims are per-query k² rows). Callers should lineage_cut
    ``cand`` — it is consumed by every unrolled round."""
    from pyspark.sql.window import Window

    from utility_service_areas_spark.operators.ann import cosine_micros
    from utility_service_areas_spark.operators.dedup import lineage_cut

    ea = emb.select(F.col("vec_id").alias("na"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("nb"), F.col("embedding").alias("vb"))
    pair = lineage_cut(
        cand.alias("x")
        .join(
            cand.alias("y"),
            (F.col("y.query_id") == F.col("x.query_id"))
            & (F.col("y.neighbor_id") != F.col("x.neighbor_id")),
        )
        .select(
            F.col("x.query_id").alias("query_id"),
            F.col("x.neighbor_id").alias("na"),
            F.col("y.neighbor_id").alias("nb"),
        )
        .join(ea, "na")
        .join(eb, "nb")
        .select(
            "query_id",
            "na",
            "nb",
            cosine_micros(F.col("va"), F.col("vb")).alias("sim_micros"),
        )
    )
    sel = cand.filter(F.col("rank") == 1).select(
        "query_id",
        "neighbor_id",
        "rel",
        F.lit(1).cast("long").alias("mmr_rank"),
        F.col("rel").cast("long").alias("mmr10"),
    )
    for r in range(2, _MMR_SELECT + 1):
        sel = lineage_cut(sel)
        picked = sel.select(
            F.col("query_id").alias("s_q"), F.col("neighbor_id").alias("s_n")
        )
        remaining = cand.join(
            picked,
            (F.col("query_id") == F.col("s_q"))
            & (F.col("neighbor_id") == F.col("s_n")),
            "left_anti",
        )
        scored = (
            remaining.join(
                picked, F.col("query_id") == F.col("s_q")
            )
            .join(
                pair.select(
                    F.col("query_id").alias("p_q"),
                    F.col("na").alias("p_a"),
                    F.col("nb").alias("p_b"),
                    "sim_micros",
                ),
                (F.col("p_q") == F.col("query_id"))
                & (F.col("p_a") == F.col("neighbor_id"))
                & (F.col("p_b") == F.col("s_n")),
            )
            .groupBy("query_id", "neighbor_id", "rel")
            .agg(
                (7 * F.col("rel") - 3 * F.max("sim_micros"))
                .cast("long")
                .alias("mmr10")
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("mmr10").desc(), F.col("neighbor_id").asc()
        )
        pick = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "neighbor_id",
                "rel",
                F.lit(r).cast("long").alias("mmr_rank"),
                "mmr10",
            )
        )
        sel = sel.unionAll(pick)
    return sel.select(
        "query_id",
        "mmr_rank",
        "neighbor_id",
        F.col("rel").cast("long").alias("rel_micros"),
        F.expr("mmr10 div 10").cast("long").alias("mmr_score_micros"),
    )
