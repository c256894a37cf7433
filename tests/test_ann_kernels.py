"""Blocked-numpy kernel equality pins: the vectorized scale paths must
be BITWISE-equal to their JVM-fold references — identical fp order
(sequential over dimensions), identical tie-breaks, identical
half-away-from-zero micros — so swapping kernels can never change a
driver hash. IVF's twin pin lives in tests/test_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF


def test_kmeans_numpy_path_matches_jvm(spark):
    from utility_service_areas_spark.operators.kmeans import (
        kmeans_fit_assign,
        kmeans_fit_assign_np,
    )

    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    jvm = {
        r.id: (r.cluster, r.dist2_micros)
        for r in kmeans_fit_assign(emb, "vec_id", "embedding", k=8, n_iter=5).collect()
    }
    np_ = {
        r.id: (r.cluster, r.dist2_micros)
        for r in kmeans_fit_assign_np(
            emb, "vec_id", "embedding", k=8, n_iter=5
        ).collect()
    }
    assert jvm == np_


def test_kmeans_numpy_path_repartition_invariant(spark):
    """Same contract the JVM path pins: integer micros sums make the
    centroid trajectory independent of partitioning/batching."""
    from utility_service_areas_spark.operators.kmeans import kmeans_fit_assign_np

    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    a = {
        r.id: (r.cluster, r.dist2_micros)
        for r in kmeans_fit_assign_np(emb, "vec_id", "embedding", k=8, n_iter=3).collect()
    }
    b = {
        r.id: (r.cluster, r.dist2_micros)
        for r in kmeans_fit_assign_np(
            emb.repartition(7, F.col("vec_id")), "vec_id", "embedding", k=8, n_iter=3
        ).collect()
    }
    assert a == b


def test_pagerank_micros_properties(spark):
    """Hand-checkable graph: a 3-node chain a-b-c (symmetric edges).
    b has two in-edges from degree-1 nodes, a and c each get half of
    b's rank — b must rank strictly highest, a and c tie by symmetry,
    and the trajectory is repartition-invariant (integer sums)."""
    from utility_service_areas_spark.operators.graph import pagerank_micros

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], ["src", "dst"]
    )
    ranks = {r.node: r.rank_micros for r in pagerank_micros(edges).collect()}
    assert set(ranks) == {1, 2, 3}
    assert ranks[1] == ranks[3]  # symmetry
    assert ranks[2] > ranks[1]  # the hub dominates
    # mass sanity: total stays near n * 1e6 (no dangling loss here)
    assert abs(sum(ranks.values()) - 3_000_000) < 10

    again = {
        r.node: r.rank_micros
        for r in pagerank_micros(edges.repartition(5)).collect()
    }
    assert again == ranks


def test_quantized_search_recall_vs_exact(spark):
    """int8 asymmetric-distance search must track exact float search:
    recall@10 ≥ 0.9 on the real embeddings (64-dim symmetric int8
    keeps ~7 bits of mantissa per dim — ranking flips are rare)."""
    from utility_service_areas_spark.operators.ann import brute_force_topk
    from utility_service_areas_spark.plans.ann_queries import ann_quantized_topk

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(sf + "/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in ann_quantized_topk(spark, sf).collect()
    }
    recall = len(truth & got) / max(len(truth), 1)
    assert recall >= 0.9, f"recall@10 {recall}"


def test_pq_refine_recall_vs_exact(spark):
    """PQ shortlist + exact refine: final recall@10 == shortlist
    containment (the refine is exact). Random embeddings are PQ's
    adversarial case (near-zero cosine structure), so the bar is
    deliberately conservative; measured 0.84 at m=8/k=32/R=100."""
    from tests.conftest import SMOKE_SF
    from utility_service_areas_spark.plans.registry import all_queries

    qs = all_queries()
    truth = {
        (r.query_id, r.neighbor_id)
        for r in qs["ann_cosine_topk"](spark, SMOKE_SF).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in qs["ann_pq_topk"](spark, SMOKE_SF).collect()
    }
    recall = len(truth & got) / max(len(truth), 1)
    assert recall >= 0.7, f"recall@10 {recall}"
    # refined sims are EXACT cosines: any overlap pair must carry the
    # same sim_micros as the brute-force row
    exact_sims = {
        (r.query_id, r.neighbor_id): r.sim_micros
        for r in qs["ann_cosine_topk"](spark, SMOKE_SF).collect()
    }
    for r in qs["ann_pq_topk"](spark, SMOKE_SF).collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact_sims:
            assert r.sim_micros == exact_sims[key], key


def test_ivfpq_recall_vs_exact(spark):
    """The composed IVF x PQ x refine index: recall is bounded by
    IVF probe containment AND PQ shortlist containment; the refine is
    exact, so overlap pairs must carry exact sims."""
    from tests.conftest import SMOKE_SF
    from utility_service_areas_spark.plans.registry import all_queries

    qs = all_queries()
    exact = {
        (r.query_id, r.neighbor_id): r.sim_micros
        for r in qs["ann_cosine_topk"](spark, SMOKE_SF).collect()
    }
    got = qs["ann_ivfpq_topk"](spark, SMOKE_SF).collect()
    overlap = [r for r in got if (r.query_id, r.neighbor_id) in exact]
    recall = len(overlap) / max(len(exact), 1)
    # Measured 0.44 at SMOKE_SF: the two pruning stages compound
    # (IVF ~0.9 probe containment x PQ shortlist-50-of-~125) and the
    # random embeddings are the adversarial case for both. At real
    # scale the shortlist/candidate ratio shrinks and the floats
    # gain structure; the pin guards collapse, not production recall.
    assert recall >= 0.35, f"recall@10 {recall}"
    for r in overlap:
        assert r.sim_micros == exact[(r.query_id, r.neighbor_id)]


def test_residual_ivfpq_calibration_vs_raw(spark):
    """The true-FAISS residual variant vs the raw-code variant on the
    same budget: residuals cluster tighter, so residual recall must be
    at least raw recall minus noise — the measurable justification for
    keeping both registered."""
    from tests.conftest import SMOKE_SF
    from utility_service_areas_spark.plans.registry import all_queries

    qs = all_queries()
    exact = {
        (r.query_id, r.neighbor_id)
        for r in qs["ann_cosine_topk"](spark, SMOKE_SF).collect()
    }

    def recall(name):
        got = {
            (r.query_id, r.neighbor_id)
            for r in qs[name](spark, SMOKE_SF).collect()
        }
        return len(exact & got) / max(len(exact), 1)

    raw = recall("ann_ivfpq_topk")
    res = recall("ann_ivfpq_residual_topk")
    assert res >= 0.35  # collapse guard, same floor as raw
    # residual coding must not be materially WORSE than raw on the
    # same budget (allow one-neighbor noise at 50 truth pairs)
    assert res >= raw - 0.04, (res, raw)


def test_power_iteration_finds_planted_direction(spark):
    """power_iteration_top_pc recovers a planted dominant direction:
    data = strong variance along u + weak isotropic noise. After 4
    rounds the fitted v must align with u (|cos| >= 0.99), and the
    projections must separate the two lobes by sign."""
    import numpy as np
    import pandas as pd

    from utility_service_areas_spark.operators.pca import (
        power_iteration_top_pc,
    )

    rng = np.random.default_rng(7)
    d, n = 16, 400
    u = rng.normal(size=d)
    u /= np.linalg.norm(u)
    coef = rng.normal(scale=10.0, size=n)  # dominant axis
    noise = rng.normal(scale=0.5, size=(n, d))
    x = coef[:, None] * u[None, :] + noise
    pdf = pd.DataFrame(
        {"vec_id": range(n), "embedding": [row.tolist() for row in x]}
    )
    df = spark.createDataFrame(pdf)

    proj, v = power_iteration_top_pc(df, "vec_id", "embedding", dim=d, n_iter=4)
    v = np.array(v)
    assert abs(float(v @ u)) >= 0.99, float(v @ u)

    got = {r.id: r.pc1_micros for r in proj.collect()}
    # sign of the projection tracks the planted coefficient (up to a
    # global flip): compare after orienting v toward u
    flip = 1.0 if float(v @ u) > 0 else -1.0
    agree = sum(
        1
        for i in range(n)
        if (flip * got[i] > 0) == (coef[i] > 0) or abs(coef[i]) < 1.0
    )
    assert agree >= int(0.95 * n), agree


def test_power_iteration_degenerate_input(spark):
    """All-equal vectors: centered data is exactly zero, the update
    norm is 0, and the guard keeps v0 instead of dividing by zero."""
    import pandas as pd

    from utility_service_areas_spark.operators.pca import (
        power_iteration_top_pc,
    )

    pdf = pd.DataFrame(
        {"vec_id": range(8), "embedding": [[1.5, -2.0, 3.0, 0.25]] * 8}
    )
    df = spark.createDataFrame(pdf)
    proj, v = power_iteration_top_pc(df, "vec_id", "embedding", dim=4, n_iter=3)
    assert v == [0.5, 0.5, 0.5, 0.5]  # v0 at dim 4, untouched
    assert all(r.pc1_micros == 0 for r in proj.collect())


def test_power_iteration_two_pc_recovers_plane(spark):
    """power_iteration_two_pc recovers BOTH planted directions: data
    with strong variance along u1, medium along orthogonal u2, weak
    noise elsewhere. v1 aligns with u1, v2 (fit after deflation)
    aligns with u2, and the two fitted directions are orthogonal."""
    import numpy as np
    import pandas as pd

    from utility_service_areas_spark.operators.pca import (
        power_iteration_two_pc,
    )

    rng = np.random.default_rng(11)
    d, n = 12, 500
    u1 = rng.normal(size=d)
    u1 /= np.linalg.norm(u1)
    u2 = rng.normal(size=d)
    u2 -= (u2 @ u1) * u1
    u2 /= np.linalg.norm(u2)
    x = (
        rng.normal(scale=12.0, size=n)[:, None] * u1[None, :]
        + rng.normal(scale=5.0, size=n)[:, None] * u2[None, :]
        + rng.normal(scale=0.3, size=(n, d))
    )
    pdf = pd.DataFrame(
        {"vec_id": range(n), "embedding": [row.tolist() for row in x]}
    )
    proj, v1, v2 = power_iteration_two_pc(
        spark.createDataFrame(pdf), "vec_id", "embedding", dim=d, n_iter=6
    )
    v1, v2 = np.array(v1), np.array(v2)
    assert abs(float(v1 @ u1)) >= 0.99
    assert abs(float(v2 @ u2)) >= 0.98
    assert abs(float(v1 @ v2)) <= 0.01  # deflation orthogonality

    rows = proj.collect()
    assert len(rows) == n
    # PC1 captures more spread than PC2
    p1 = np.array([r.pc1_micros for r in rows], dtype=float)
    p2 = np.array([r.pc2_micros for r in rows], dtype=float)
    assert p1.std() > 1.5 * p2.std()


def test_fused_multi_subspace_fit_bit_identical(spark):
    """fit_centroids_np_multi must reproduce m independent
    single-subspace (m=1) fits over the sliced frames EXACTLY — same
    md5-seed rows, same per-batch numpy arithmetic per subspace, same
    integer micros sums — so the per-subspace SQL replay chains keep
    verifying the fused path."""
    from pyspark.sql import functions as F

    from utility_service_areas_spark.operators.kmeans import fit_centroids_np_multi
    from utility_service_areas_spark.sources.tables import load_table

    emb = load_table(spark, SMOKE_SF, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    m, k, n_iter = 4, 16, 2
    sub = 64 // m
    separate = [
        fit_centroids_np_multi(
            base.select("id", F.slice("vec", si * sub + 1, sub).alias("vec")),
            k,
            n_iter,
            1,
        )[0]
        for si in range(m)
    ]
    fused = fit_centroids_np_multi(base, k, n_iter, m)
    assert fused == separate


def test_pq_encode_drops_malformed_vectors(spark):
    """ADVICE r9: pq_encode must survive null / wrong-cardinality
    embeddings (np.stack in the fused fit+encode would otherwise crash
    on one ragged Arrow row) — same contract as ivf_topk. Junk rows are
    dropped BEFORE the fit, so codebooks equal the clean-corpus fit."""
    from pyspark.sql.types import ArrayType, FloatType, LongType

    from utility_service_areas_spark.operators.ann import pq_encode

    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    base = emb.select("vec_id", "embedding").limit(200)
    junk = spark.createDataFrame(
        [
            (100_001, None),
            (100_002, [float(i) for i in range(dim + 3)]),
            (100_003, [1.0, 2.0]),
        ],
        schema=base.select(
            F.col("vec_id").cast(LongType()),
            F.col("embedding").cast(ArrayType(FloatType())),
        ).schema,
    )
    codes_dirty, books_dirty = pq_encode(
        base.unionByName(junk), "vec_id", "embedding", m=4, k=8, n_iter=1
    )
    codes_clean, books_clean = pq_encode(
        base, "vec_id", "embedding", m=4, k=8, n_iter=1
    )
    assert books_dirty == books_clean
    got = {r.id for r in codes_dirty.collect()}
    want = {r.id for r in codes_clean.collect()}
    assert got == want  # junk ids dropped, clean ids all encoded
    assert not {100_001, 100_002, 100_003} & got

    # ADVICE r10: a malformed FIRST row must not define the corpus
    # dim (first-row inference would drop the whole clean corpus, or
    # raise on dim % m). Dim is the MODAL size, so junk-first input
    # yields the same codebooks and ids as the clean corpus.
    codes_jf, books_jf = pq_encode(
        junk.unionByName(base).coalesce(1), "vec_id", "embedding",
        m=4, k=8, n_iter=1,
    )
    assert books_jf == books_clean
    assert {r.id for r in codes_jf.collect()} == want

    # expected_dim seam: callers that know the schema skip the modal
    # probe and get identical results.
    codes_ed, books_ed = pq_encode(
        base.unionByName(junk), "vec_id", "embedding",
        m=4, k=8, n_iter=1, expected_dim=dim,
    )
    assert books_ed == books_clean
    assert {r.id for r in codes_ed.collect()} == want
