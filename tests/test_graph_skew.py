"""Connected-components dedup resolution, salted join equivalence
and IVF recall.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF
from utility_service_areas_spark.operators import graph
from utility_service_areas_spark.operators.ann import brute_force_topk, ivf_topk
from utility_service_areas_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)
from utility_service_areas_spark.operators.skew import salted_join


def test_connected_components_chain_and_clique(spark):
    # chain 1-2-3-4 plus clique 10-11-12 plus pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["doc_a", "doc_b"],
    )
    comp = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_cluster_density_chain_vs_clique(spark):
    from utility_service_areas_spark.operators.graph import cluster_density

    # chain 1-2-3-4 (0 triangles, transitivity 0), triangle 10-11-12
    # (1 triangle, transitivity 1.0), pair 20-21 (0 wedges → 0)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["doc_a", "doc_b"],
    )
    rows = {r.cluster_id: r for r in cluster_density(pairs).collect()}
    assert set(rows) == {1, 10, 20}
    chain = rows[1]
    assert (chain.n_docs, chain.n_edges, chain.n_triangles) == (4, 3, 0)
    assert chain.edge_density_micros == 500_000  # 2*3/(4*3)
    assert chain.transitivity_micros == 0  # 2 wedges, no closure
    clique = rows[10]
    assert (clique.n_docs, clique.n_edges, clique.n_triangles) == (3, 3, 1)
    assert clique.edge_density_micros == 1_000_000
    assert clique.transitivity_micros == 1_000_000
    pair = rows[20]
    assert (pair.n_docs, pair.n_edges, pair.n_triangles) == (2, 1, 0)
    assert pair.edge_density_micros == 1_000_000
    assert pair.transitivity_micros == 0  # 0 wedges guard


def test_dedup_clusters_with_singletons(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["doc_a", "doc_b"])
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 7, 9]], ["doc_id"])
    out = {r.doc_id: (r.keeper_id, r.cluster_size) for r in dedup_clusters(pairs, ids, "doc_id").collect()}
    assert out == {1: (1, 3), 2: (1, 3), 3: (1, 3), 7: (7, 1), 9: (9, 1)}


def test_salted_join_equivalent_to_plain(spark):
    # skewed facts: 90% of rows share key 1
    facts = spark.createDataFrame(
        [(i, 1 if i % 10 else 2, float(i)) for i in range(1000)], ["fid", "k", "v"]
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "unused")], ["k", "label"])
    plain = facts.join(dim, "k").select("fid", "label")
    salted = salted_join(facts, dim, "k", salt_source=F.col("fid"), n_salts=8).select(
        "fid", "label"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # left-join nulls survive salting too
    plain_l = facts.join(dim.filter("k = 1"), "k", "left").select("fid", "label")
    salted_l = salted_join(
        facts, dim.filter("k = 1"), "k", salt_source=F.col("fid"), n_salts=8, how="left"
    ).select("fid", "label")
    assert sorted(map(tuple, plain_l.collect()), key=str) == sorted(
        map(tuple, salted_l.collect()), key=str
    )


def test_ivf_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=3).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, recall  # 3/8 of cells probed


def _chain_and_clique(spark, a="doc_a", b="doc_b"):
    # a 12-node chain (worst case for label propagation) plus a
    # 4-clique, so the triangle operators have something to count
    rows = [(i, i + 1) for i in range(1, 12)] + [
        (x, y) for x in range(20, 24) for y in range(x + 1, 24)
    ]
    return spark.createDataFrame(rows, f"{a} long, {b} long")


_GRAPH_OPS = {
    "connected_components": lambda s: graph.connected_components(_chain_and_clique(s)),
    "pagerank_micros": lambda s: graph.pagerank_micros(_chain_and_clique(s, "src", "dst")),
    "hits_micros": lambda s: graph.hits_micros(_chain_and_clique(s, "src", "dst")),
    "triangle_counts": lambda s: graph.triangle_counts(_chain_and_clique(s)),
    "cluster_density": lambda s: graph.cluster_density(_chain_and_clique(s)),
}


@pytest.mark.parametrize("op", sorted(_GRAPH_OPS))
def test_connected_components_reliable_checkpoint(spark, tmp_path, monkeypatch, op):
    """With a checkpoint dir configured (cluster posture), every graph
    operator cuts its lineage with reliable checkpoint() instead of
    localCheckpoint, and returns the same rows. The driver fast path
    is off, so the CC operators run their iterative loops."""
    monkeypatch.setattr(graph, "_LOCAL_CC_EDGES", 0)
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    want = sorted(map(tuple, _GRAPH_OPS[op](spark).collect()))
    assert want
    ck = tmp_path / "ck"
    sc.setCheckpointDir(str(ck))
    try:
        got = sorted(map(tuple, _GRAPH_OPS[op](spark).collect()))
        assert got == want
        assert any(files for _, _, files in os.walk(ck)), "no checkpoint files written"
    finally:
        # restore: no checkpoint dir for the rest of the suite
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
        assert sc.getCheckpointDir() is None


# Jobs each operator runs on _chain_and_clique with no checkpoint dir,
# the driver fast path off and AQE off, measured before the graph
# operators went through lineage_cut. CC runs one fingerprint job per
# round; HITS one broadcast job per max-normalization.
_LAZY_CUT_JOBS = {
    "cluster_density": 5,
    "connected_components": 5,
    "hits_micros": 30,
    "pagerank_micros": 1,
    "triangle_counts": 1,
}


@pytest.mark.parametrize("op", sorted(_LAZY_CUT_JOBS))
def test_local_cut_is_lazy(spark, monkeypatch, op):
    """Without a checkpoint dir the cuts are lazy local checkpoints,
    materialized by the job that first consumes them; an eager cut
    adds one job per cut. AQE is off while counting: it submits each
    query stage as its own job, and how many it submits depends on
    which stage finishes first (42-47 jobs for one CC call). The
    fast path is stubbed out rather than capped at 0: a 0 cap still
    runs its one-row limit job, which is no lineage cut."""
    monkeypatch.setattr(graph, "_local_cc_fastpath", lambda edges: None)
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    group = f"lazy-cut-{op}"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        assert _GRAPH_OPS[op](spark).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == _LAZY_CUT_JOBS[op]


def test_cc_loop_label_identical_to_fastpath(spark, monkeypatch):
    """The propagation loop and the driver union-find fast path give
    IDENTICAL (node, comp) labels on adversarial topologies — 20-deep
    chain (propagation's worst case), clique, star, two disjoint
    components, and a lollipop (clique + tail) — and every label is
    its component's minimum member."""
    graphs = {
        "chain": [(i, i + 1) for i in range(100, 120)],
        "clique": [(i, j) for i in range(200, 210) for j in range(200, 210) if i < j],
        "star": [(300, i) for i in range(301, 320)],
        "two_comps": [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)],
        "lollipop": [(i, j) for i in range(400, 406) for j in range(400, 406) if i < j]
        + [(405, 406), (406, 407), (407, 408)],
    }
    frames = {
        name: spark.createDataFrame(edges, "doc_a long, doc_b long")
        for name, edges in graphs.items()
    }
    want = {
        name: {(r.node, r.comp) for r in graph.connected_components(f).collect()}
        for name, f in frames.items()
    }
    monkeypatch.setattr(graph, "_LOCAL_CC_EDGES", 0)
    for name, pairs in frames.items():
        got = {(r.node, r.comp) for r in graph.connected_components(pairs).collect()}
        assert got == want[name], name
        comp_members = {}
        for node, comp in got:
            comp_members.setdefault(comp, []).append(node)
        for comp, members in comp_members.items():
            assert comp == min(members + [comp]), name


def test_cc_converging_exactly_at_max_iter_returns_labels(spark, monkeypatch):
    # A single edge reaches the fixpoint in round 1; fingerprint
    # EQUALITY would only be observed in round 2, so max_iter=1 must
    # run one verify round and accept the fixpoint, not raise.
    monkeypatch.setattr(graph, "_LOCAL_CC_EDGES", 0)
    pairs = spark.createDataFrame([(2, 1)], "doc_a long, doc_b long")
    got = {
        (r.node, r.comp)
        for r in graph.connected_components(pairs, max_iter=1).collect()
    }
    assert got == {(1, 1), (2, 1)}


def test_cc_still_raises_when_genuinely_unconverged(spark, monkeypatch):
    # The driver union-find fast path solves a 63-edge chain exactly
    # without iterating — disable it so this pins the LOOP's
    # exhaustion contract.
    monkeypatch.setattr(graph, "_LOCAL_CC_EDGES", 0)
    # a 64-node path needs several rounds; max_iter=1 + one verify
    # round cannot reach the fixpoint -> loud failure, never wrong labels
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge within max_iter=1"):
        graph.connected_components(pairs, max_iter=1)


def test_hits_planted_authority_ranking(spark):
    """Semantic pin on a planted bipartite graph: the authority cited
    by every hub outranks one cited by a single hub; the best hub
    (points at both authorities) holds the 1e6 max after
    normalization; all scores stay in (0, 1e6]."""
    from utility_service_areas_spark.operators.graph import hits_micros

    #  hubs 1..3 -> auth 100 (everyone), hub 1 -> auth 200 (only one)
    edges = [(1, 100), (2, 100), (3, 100), (1, 200)]
    got = {
        (r.side, r.node): r.score_micros
        for r in hits_micros(
            spark.createDataFrame(edges, "src long, dst long")
        ).collect()
    }
    assert got[("auth", 100)] == 1_000_000  # max-normalized
    assert 0 < got[("auth", 200)] < got[("auth", 100)]
    assert got[("hub", 1)] == 1_000_000  # points at both
    assert got[("hub", 2)] == got[("hub", 3)]  # symmetric hubs tie
    assert 0 < got[("hub", 2)] < got[("hub", 1)]
