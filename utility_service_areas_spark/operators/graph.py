"""Iterative graph operators: connected components over candidate
pairs — the endgame of every dedup family (pairs → clusters →
canonical keeper per cluster).

Implementation is min-label propagation with pointer jumping: each
iteration joins the current labels across the edge list and takes the
min neighbor label, until a fixpoint. Iterations are
O(diameter); dedup graphs are near-clique clusters, so 2-4 rounds
converge. Each round is one shuffle; intermediate frames go through
``lineage_cut`` to cut the growing lineage — the standard Spark
iterative-algorithm discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from utility_service_areas_spark.operators.dedup import lineage_cut
from utility_service_areas_spark.operators.localrel import local_df
from utility_service_areas_spark.operators.spread import cpu_spread_width

# Small-graph fast path (r17): a pair graph that fits comfortably on
# the driver is solved there with union-find instead of running the
# iterative join loop — the distributed rounds are pure scheduling
# overhead when the edge list is KB-sized (each round costs an
# analysis pass + an AQE job + a collect for the fingerprint; a
# 5-round convergence is ~10 jobs for a graph union-find resolves in
# microseconds). The labels are identical BY CONSTRUCTION: component =
# min node id, the same fixpoint the propagation loop reaches
# (equivalence pinned in tests). The cap is edge rows; above it —
# every at-scale corpus — the loop runs exactly as before, having
# spent one O(cap)-row limit job to decide (the partitions it
# materialized stay cached for round 1). Driver memory is bounded:
# cap rows × 2 ids. Same sanctioned class of driver-side fold as
# Lloyd's k-centroid collect (kmeans.py).
_LOCAL_CC_EDGES = 100_000


def _local_cc_fastpath(edges: DataFrame) -> DataFrame | None:
    """Union-find labels for a small symmetric edge frame, or None when
    the graph exceeds the cap (or node ids aren't plainly orderable
    across engines — only numeric ids take the fast path; Python and
    SQL string collation subtleties stay out of scope)."""
    cap = _LOCAL_CC_EDGES
    u_type, v_type = (f.dataType.typeName() for f in edges.schema.fields[:2])
    numeric = {"byte", "short", "integer", "long"}
    if u_type not in numeric or u_type != v_type:
        return None
    rows = edges.limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return local_df(
        edges.sparkSession,
        [(n, find(n)) for n in parent],
        f"node {u_type}, comp {u_type}",
    )


def symmetric_edges(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    width: int | None = None,
) -> DataFrame:
    """Edge list → (u, v) holding BOTH directions of every edge,
    deduplicated, partitioned on ``v`` and lineage-cut: the edge frame
    `component_labels` iterates over (and `cluster_density` also
    counts triangles on)."""
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .union(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
    )
    # Materialize the edge list ONCE, PRE-PARTITIONED on the join key
    # (r8): checkpoint preserves outputPartitioning, so every round's
    # edge⋈label join shuffles only the node-sized label frame — the
    # (2×pairs)-sized edge list never re-shuffles after round 0.
    # Measured at 30× (2.56M pairs), interleaved A/B in one session:
    # dedup_clusters 20.5 → 19.2 s warm (−6%; the first cold run shows
    # 29.3 → 19.9 s but that gap is JIT/page-cache bias, quoted so
    # nobody re-reports it as the win), and cluster_density 27.5 →
    # 23.5 s. (The half-lineage-cut that won for PageRank was ALSO
    # tried and rejected: neutral alone — 26.4 s — and a 28.0 s
    # regression combined, because three consumers re-derive the
    # uncut round.)
    # Without the cut each iteration would re-run the entire upstream
    # pair-generation pipeline (LSH bucketing, signature UDFs, ...).
    # ADVICE r8: shuffle.partitions can be non-numeric ("auto" on some
    # platforms) — fall back to defaultParallelism instead of raising,
    # and skip the explicit repartition entirely in that case (the
    # checkpoint's lineage cut is the load-bearing part).
    try:
        n_shuffle = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_shuffle = None
    if n_shuffle:
        # r17: bound the width by the source corpus size (one
        # partition per ~128 KiB of leaf-scan bytes, capped at
        # n_shuffle) — a bench-scale pair graph no longer fans every
        # CC round into shuffle.partitions near-empty tasks, while an
        # input big enough to need the full width still gets it.
        # ``width`` lets a caller whose pair frame sits on a cached
        # relation (no visible leaf files) pass the corpus-derived
        # width instead; unknown sizes keep the old n_shuffle.
        w = min(width, n_shuffle) if width else cpu_spread_width(pairs, n_shuffle)
        edges = edges.repartition(w, "v")
    # The local cut is lazy (r17): its first consumer's job
    # materializes it, saving one standalone job per call.
    return lineage_cut(edges)


def component_labels(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """`symmetric_edges` frame → (node, comp), comp = min node id of
    the connected component: the driver fast path for a small graph,
    else min-label propagation to a fixpoint. Raises RuntimeError when
    the labels still move after ``max_iter`` rounds."""
    fast = _local_cc_fastpath(edges)
    if fast is not None:
        return fast
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )

    def _round(labels: DataFrame) -> DataFrame:
        # candidate label for each node: min over (own, neighbors')
        neigh = (
            edges.join(labels, edges.v == labels.node)
            .select(F.col("u").alias("node"), F.col("comp"))
        )
        new_labels = (
            labels.unionByName(neigh)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # Pointer jumping: comp ← label[comp]. One self-join of the
        # (small) label table per round turns O(diameter) rounds into
        # O(log diameter) — chain-shaped near-dup clusters (doc A ~ B
        # ~ C ... with only adjacent pairs similar) otherwise need one
        # round PER HOP; a 20-deep chain measured 20 rounds without
        # this and 6 with it.
        jump = new_labels.select(
            F.col("node").alias("comp"), F.col("comp").alias("comp2")
        )
        new_labels = new_labels.join(jump, "comp", "left").select(
            "node", F.coalesce("comp2", "comp").alias("comp")
        )
        return lineage_cut(new_labels)

    def _fingerprint(labels: DataFrame) -> int:
        # Convergence = labels identical to last round. Min-label
        # propagation is monotone (labels only decrease), so a 64-bit
        # XOR fingerprint being unchanged means fixpoint (bit_xor is
        # order-independent and can't overflow under ANSI mode). One
        # tiny partial-agg scan of the checkpointed frame — no join,
        # no extra shuffle. r17: the edge frame's cut is lazy, so the
        # first round's fingerprint materializes it.
        return labels.agg(
            F.expr("bit_xor(xxhash64(node, comp))").alias("fp")
        ).collect()[0][0]

    prev_fp = None
    for _ in range(max_iter):
        labels = _round(labels)
        fp = _fingerprint(labels)
        if fp == prev_fp:
            return labels
        prev_fp = fp
    # Fingerprint equality trails the fixpoint by one round (the round
    # that REACHES it still changes the labels), so a graph that
    # converges exactly at max_iter looks unconverged: verify with one
    # more round. If the labels still move, the loop exited by
    # exhaustion and its labels are not the components — fail loudly
    # rather than return them.
    labels = _round(labels)
    if _fingerprint(labels) != prev_fp:
        raise RuntimeError(
            f"connected components did not converge within "
            f"max_iter={max_iter} rounds (label fingerprint still "
            "moving); raise max_iter"
        )
    return labels


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
    width: int | None = None,
) -> DataFrame:
    """Edge list → (node, component) where component = min node id of
    the connected component. Nodes only in no pair are absent (callers
    union isolated ids if needed)."""
    return component_labels(symmetric_edges(pairs, a_col, b_col, width), max_iter)


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Full dedup resolution: candidate pairs → connected components →
    every id mapped to its cluster keeper (min id; singletons keep
    themselves). Returns (id, keeper_id, cluster_size).
    """
    # The id frame is the file-backed corpus side, so it carries the
    # size signal the (often cached) pair frame hides (r17).
    comp = connected_components(
        pairs,
        a_col,
        b_col,
        width=cpu_spread_width(
            all_ids, all_ids.sparkSession.sparkContext.defaultParallelism
        ),
    )
    joined = all_ids.select(F.col(id_col).alias("node")).join(
        comp, "node", "left"
    )
    # resolved feeds BOTH the size aggregate and the final join —
    # without the cut Catalyst re-runs the ids⋈comp join for each
    # consumer (no identical-subtree reuse; measured r8). The size
    # path stays groupBy+join rather than a count-over-keeper window
    # so a giant dup cluster partial-aggregates map-side and the hot
    # probe key is AQE-skew-splittable, not a single window sort
    # partition.
    resolved = lineage_cut(
        joined.select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("comp"), F.col("node")).alias("keeper_id"),
        )
    )
    sizes = resolved.groupBy("keeper_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return resolved.join(sizes, "keeper_id").select(id_col, "keeper_id", "cluster_size")


# Fixed round counts of the two integer-micros link analyses; their
# unrolled DuckDB oracles replay the same number of rounds.
PAGERANK_ROUNDS = 5
HITS_ROUNDS = 4


def pagerank_micros(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank with INTEGER-micros ranks — the classic
    iterative-join Spark workload, made bit-replayable.

    Rank state is a micros-bigint (initial 1_000_000 per node);
    each round every node sends floor(rank / outdeg) to each neighbor
    (double division + floor, operand-order mirrored in the SQL
    oracle), and new_rank = floor((1-d)·1e6) + floor(d · Σ contrib).
    Integer sums are order-independent, so the trajectory is identical
    across partitionings AND engines — same discipline as the k-means
    micros centroids (operators/kmeans.py).

    Scale shape: per round ONE join of the edge list against the
    (node-sized) rank frame + one partial-aggregated groupBy on dst;
    the edge list is checkpointed once and reused. Rank state is
    node-sized, never corpus-sized. Dangling mass is dropped
    (simplified PR) — mirrored in the oracle.

    Returns (node, rank_micros) for every node appearing in edges.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct()
    # Materialize the loop-invariant frames ONCE: the edge list with
    # its out-degree fused in (saves a per-round join), and the node
    # frame (otherwise its distinct-shuffle re-runs every round).
    e = lineage_cut(
        e.join(e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")), "src")
    )
    nodes = lineage_cut(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    ranks = nodes.withColumn("rank_micros", F.lit(1_000_000).cast("long"))
    base = int((1.0 - damping) * 1_000_000)
    for i in range(PAGERANK_ROUNDS):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.floor(F.col("rank_micros") * 1.0 / F.col("outdeg"))
                .cast("long")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("sum_c"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.floor(F.lit(damping) * F.coalesce("sum_c", F.lit(0)))
                ).cast("long").alias("rank_micros"),
            )
        )
        # Lineage cut every other round: a FIXED small iteration count
        # doesn't need the per-round materialization CC's unbounded
        # loop does — each eager checkpoint costs a full job.
        if i % 2 == 1 or i == PAGERANK_ROUNDS - 1:
            ranks = lineage_cut(ranks)
    return ranks


def triangle_counts(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected edge
    list — the classic graph-density kernel (a near-dup cluster's
    triangle count separates true cliques from chains; social/citation
    analytics use the same shape).

    Scale discipline: edges are ORIENTED by (degree, id) — every edge
    points from its lower-(deg, id) endpoint to the higher one — so
    each triangle is generated exactly once AND the 2-path fan-out per
    node is bounded by its out-degree under the orientation, which for
    a heavy-tailed graph moves the quadratic cost off the hub nodes
    (the standard Suri–Vassilvitskii / Cohen MapReduce trick; a hub
    with degree d contributes O(d) oriented out-edges only toward
    higher-degree nodes, of which there are few). Three hash joins,
    all partial-agg friendly; orientation is pure integer comparison,
    so the SQL oracle replays it exactly.

    Returns (node, n_triangles) for nodes in >= 1 triangle.
    """
    und = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .union(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
        .filter(F.col("u") != F.col("v"))
    )
    # Materialize the edge list and the oriented list ONCE (r8): the
    # triple self-join consumes `oriented` three times and the degree
    # join consumes `und` three times, and Catalyst does NOT reuse
    # those subtrees (0 ReusedExchange in the executed plan) — so
    # without the cut the entire upstream pair-generation pipeline
    # (minhash, banding, bucket join) re-runs per branch. Both frames
    # are edge-sized, tiny next to the doc corpus they derive from.
    # Measured at 10× interleaved A/B (warm rounds): 17.3-18.5 s →
    # 4.1 s (4.2×).
    und = lineage_cut(und)
    tri = _oriented_triangles(und)
    corners = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return corners


def _oriented_triangles(und: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """(x, y, z) rows, one per triangle, from an already-materialized
    both-directions edge list — the shared kernel of per-node
    `triangle_counts` and per-cluster `cluster_density`. ``deg`` is
    the (node, d) degree frame if the caller already has one."""
    if deg is None:
        deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d")).withColumnRenamed(
            "u", "node"
        )
    with_deg = (
        und.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = lineage_cut(with_deg.filter(lower_first).select("u", "v"))
    e1 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = oriented.select(F.col("u").alias("x"), F.col("v").alias("z"))
    return e1.join(e2, "y").join(e3, ["x", "z"])


def cluster_density(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    width: int | None = None,
) -> DataFrame:
    """Per-CLUSTER density report over an undirected edge list: for
    every connected component, its size, edge count, triangle count,
    edge density 2E/(n(n-1)) and transitivity 3T/wedges (both
    micros-quantized) — the table curation reads to decide which
    near-dup clusters are true template cliques (collapse to one
    keeper) vs weak chains (keep and re-verify). The per-node twin is
    `triangle_counts`; aggregating per cluster collapses a k-clique's
    k output rows to ONE, so output volume tracks cluster count, not
    clique volume (VERDICT r8 task 6).

    Cost shape: the same oriented triangle kernel + one CC labeling,
    then everything aggregates on the cluster id — edge-sized frames
    throughout, partial-agg friendly. n_edges and n_wedges come from
    the degree frame alone (Σd = 2E, Σ d(d-1)/2 = wedges), no second
    edge join. Density ratios use the floor(x·1e6 + 0.5) micros rule
    with operand order mirrored in the SQL oracle.

    Returns (cluster_id, n_docs, n_edges, n_triangles,
    edge_density_micros, transitivity_micros); cluster_id is the
    component's min node id (the CC label), n_docs >= 2 always —
    isolated docs have no edges and no cluster.
    """
    # Self-pairs carry no edge; dropping them before symmetrizing
    # drops exactly the (x, x) rows afterwards.
    und = symmetric_edges(
        pairs.filter(F.col(a_col) != F.col(b_col)), a_col, b_col, width
    )
    # Degree frame computed ONCE (node-sized, cut) and shared by the
    # orientation and the per-cluster stats.
    deg = lineage_cut(
        und.groupBy("u").agg(F.count(F.lit(1)).alias("d")).withColumnRenamed(
            "u", "node"
        )
    )
    tri = _oriented_triangles(und, deg)
    comp = component_labels(und)
    per_node = comp.join(deg, "node")
    base = per_node.groupBy("comp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("d") / 2).cast("long").alias("n_edges"),  # Σd = 2E, always even
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("n_wedges"),
    )
    tric = (
        tri.join(comp.withColumnRenamed("node", "x"), "x")
        .groupBy("comp")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    t = F.coalesce(F.col("n_triangles"), F.lit(0))
    dens = F.floor(
        2.0 * F.col("n_edges") * 1000000 / (F.col("n_docs") * (F.col("n_docs") - 1))
        + 0.5
    ).cast("long")
    trans = F.when(F.col("n_wedges") == 0, F.lit(0).cast("long")).otherwise(
        F.floor(3.0 * t * 1000000 / F.col("n_wedges") + 0.5).cast("long")
    )
    return (
        base.join(tric, "comp", "left")
        .select(
            F.col("comp").alias("cluster_id"),
            "n_docs",
            "n_edges",
            t.cast("long").alias("n_triangles"),
            dens.alias("edge_density_micros"),
            trans.alias("transitivity_micros"),
        )
    )


def hits_micros(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) with INTEGER-micros
    scores — hubs on the source side, authorities on the destination
    side of a DIRECTED edge list.

    State discipline (the pagerank_micros/k-means posture, made even
    stricter): scores start at 1_000_000; each half-round is an
    integer SUM across the edge join followed by max-normalization
    back to the micros scale via EXACT INTEGER DIVISION
    ((score * 1_000_000) div max_score) — no double ever exists in
    the trajectory, so the oracle replays bit-for-bit without even
    the operand-order discipline floats need. Sums are
    order-independent by integer associativity.

    Scale shape: per half-round ONE edge⋈score join + one partial-agg
    groupBy + one 1-row max agg broadcast back; the edge list is
    checkpointed once; score state is node-sided. Overflow headroom:
    sum <= max_degree * 1e6 and the rescale multiplies by 1e6, so
    max_degree may reach ~9.2e6 before BIGINT overflow — ANSI mode
    would raise loudly, not wrap.

    Returns (node, side, score_micros): side='hub' for sources,
    'auth' for destinations.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    e = lineage_cut(e)
    hubs = (
        e.select("src").distinct().withColumn("h", F.lit(1_000_000).cast("long"))
    )
    for i in range(HITS_ROUNDS):
        a_raw = (
            e.join(hubs, "src")
            .groupBy("dst")
            .agg(F.sum("h").alias("a_raw"))
        )
        a_max = a_raw.agg(F.max("a_raw").alias("mx"))
        auths = a_raw.crossJoin(F.broadcast(a_max)).select(
            "dst", F.expr("(a_raw * 1000000) div mx").alias("a")
        )
        h_raw = (
            e.join(auths, "dst")
            .groupBy("src")
            .agg(F.sum("a").alias("h_raw"))
        )
        h_max = h_raw.agg(F.max("h_raw").alias("mx"))
        hubs = h_raw.crossJoin(F.broadcast(h_max)).select(
            "src", F.expr("(h_raw * 1000000) div mx").alias("h")
        )
        if i % 2 == 1 or i == HITS_ROUNDS - 1:
            hubs = lineage_cut(hubs)
            auths = lineage_cut(auths)
    return hubs.select(
        F.col("src").alias("node"), F.lit("hub").alias("side"),
        F.col("h").alias("score_micros"),
    ).unionByName(
        auths.select(
            F.col("dst").alias("node"), F.lit("auth").alias("side"),
            F.col("a").alias("score_micros"),
        )
    )
