"""Round-12 operator pins: BM25 plan shape + scoring semantics,
suffix-array substring dedup, k-NN graph recall. Pattern per
tests/test_r9_properties.py: hand-built parquet substrates into
tmp_path, call the REGISTERED query with sf_dir=tmp, compare against a
brute-force Python reference — the mirrored SQL oracle pins
cross-engine arithmetic, these pin SEMANTICS."""

from __future__ import annotations

import math

import pyspark.sql.functions as F  # noqa: F401 (used by some pins)

from tests.conftest import SMOKE_SF, write_docs
from utility_service_areas_spark.plans.registry import physical_plan


def test_bm25_plan_has_topk_pushdown_and_no_python(spark):
    from utility_service_areas_spark.plans.registry import all_queries

    df = all_queries()["text_bm25_topk"](spark, SMOKE_SF)
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan, "per-query top-k must push down"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_scores_match_float_reference(spark, tmp_path):
    """The registered millibit-integer BM25 must rank identically to —
    and sit within 1 millibit of — a plain float BM25 (Robertson
    idf = ln((N-df+0.5)/(df+0.5)+1) in log2 form, k1=1.2, b=0.75)
    computed by an independent Python loop over the same toy corpus."""
    from utility_service_areas_spark.plans.registry import all_queries
    from utility_service_areas_spark.plans.text_queries import _BM25_QUERIES

    corpus = [
        (1, "hash join merge hash hash"),
        (2, "join merge"),
        (3, "scan filter sort scan the a"),
        (4, "stream window batch stream stream window"),
        (5, "hash the the the the the the the the the"),
        (6, "sort"),
    ]
    write_docs(spark, str(tmp_path), corpus)

    got = {
        (r.query_id, r.doc_id): (r.rk, r.score_millibits, r.n_terms_matched)
        for r in all_queries()["text_bm25_topk"](spark, str(tmp_path)).collect()
    }

    toks = {d: t.split() for d, t in corpus}
    n_docs = len(corpus)
    l_total = sum(len(v) for v in toks.values())
    ref = {}
    for qid, qs in _BM25_QUERIES:
        scores = {}
        for term in qs.split():
            df_t = sum(1 for v in toks.values() if term in v)
            if df_t == 0:
                continue
            idf = math.log2(2 * n_docs + 2) - math.log2(2 * df_t + 1)
            for d, v in toks.items():
                tf = v.count(term)
                if tf == 0:
                    continue
                norm = (22 * l_total * tf) / (
                    10 * l_total * tf + 3 * l_total + 9 * len(v) * n_docs
                )
                milli, nm = scores.get(d, (0, 0))
                scores[d] = (milli + round(idf * norm * 1000), nm + 1)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))
        for rk, (d, (milli, nm)) in enumerate(ranked[:10], start=1):
            ref[(qid, d)] = (rk, milli, nm)

    assert set(got) == set(ref)
    for key, (rk, milli, nm) in ref.items():
        grk, gmilli, gnm = got[key]
        assert (grk, gnm) == (rk, nm), f"rank/match drift at {key}"
        assert abs(gmilli - milli) <= 1, f"score drift at {key}"


def _brute_maxrep(docs):
    """Brute-force per-doc LRS stats: maxrep(p) = longest prefix of
    the suffix at p equal to the prefix of ANY other position's suffix
    (overlaps allowed). O(n^2 * L) — test-scale only."""
    toks = {d: t.split() for d, t in docs}
    pos = [(d, i) for d, tk in toks.items() for i in range(len(tk))]
    out = {}
    for d, i in pos:
        a = toks[d][i:]
        best = 0
        for e, j in pos:
            if (d, i) == (e, j):
                continue
            b = toks[e][j:]
            l = 0
            while l < len(a) and l < len(b) and a[l] == b[l]:
                l += 1
            best = max(best, l)
        out.setdefault(d, []).append(best)
    return {
        d: (len(v), max(v), sum(1 for x in v if x >= 8))
        for d, v in out.items()
    }


def test_suffix_lrs_planted_long_repeat(spark, tmp_path):
    """The capability #129's fixed window can't deliver: two docs share
    a 37-token verbatim passage — max_rep_len must be exactly 37, and
    a doc made of a repeated token run must report its self-overlap
    repeat (run length - 1)."""
    from utility_service_areas_spark.plans.registry import all_queries

    passage = " ".join(f"p{j}" for j in range(37))
    docs = [
        (1, "a1 b1 c1 " + passage + " d1 e1"),
        (2, "x2 y2 " + passage + " z2"),
        (3, " ".join(["loop"] * 20)),
        (4, "only unique tokens here nothing repeats at all"),
    ]
    write_docs(spark, str(tmp_path), docs)
    got = {
        r.doc_id: (r.n_positions, r.max_rep_len, r.n_pos_rep_ge8)
        for r in all_queries()["dedup_suffix_lrs"](spark, str(tmp_path)).collect()
    }
    assert got[1][1] == 37 and got[2][1] == 37
    assert got[3][1] == 19  # overlap-allowed self-repeat of a 20-run
    assert got[4][1] <= 1  # singleton tokens ('at'/'all' share no pair)
    assert got == _brute_maxrep(docs)


def test_suffix_lrs_matches_brute_on_mixed_corpus(spark, tmp_path):
    """Randomized-shape corpus (fixed seed, ~35 docs over a 12-token
    vocabulary so repeats of every length arise naturally) vs the
    brute-force reference — pins the full semantics: cross-doc,
    intra-doc, overlapping, and boundary-truncated repeats."""
    import random

    from utility_service_areas_spark.plans.registry import all_queries

    rng = random.Random(12)
    vocab = [f"w{j}" for j in range(12)]
    docs = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 24))))
        for d in range(35)
    ]
    write_docs(spark, str(tmp_path), docs)
    got = {
        r.doc_id: (r.n_positions, r.max_rep_len, r.n_pos_rep_ge8)
        for r in all_queries()["dedup_suffix_lrs"](spark, str(tmp_path)).collect()
    }
    assert got == _brute_maxrep(docs)


def test_knn_graph_recall_on_clustered_substrate(spark, tmp_path):
    """NN-descent's design premise is locality: on a 12-cluster
    substrate the 3-round graph must reach recall@10 >= 0.9 vs brute
    force (measured 0.999 offline; the uniform-random driver substrate
    plateaus ~0.5-0.6 and is documented, not pinned — the
    PQ-on-random-embeddings precedent)."""
    import numpy as np

    from utility_service_areas_spark.plans.registry import all_queries

    rng = np.random.default_rng(7)
    n, d, c = 600, 64, 12
    cent = rng.normal(size=(c, d)) * 3
    labels = rng.integers(0, c, n)
    X = cent[labels] + rng.normal(size=(n, d))
    spark.createDataFrame(
        [
            (int(i), [float(x) for x in X[i]], int(labels[i]))
            for i in range(n)
        ],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    got = {}
    for r in all_queries()["embedding_knn_graph"](spark, str(tmp_path)).collect():
        got.setdefault(r.vec_id, set()).add(r.neighbor_id)

    Xf = X.astype(np.float32).astype(np.float64)  # parquet stores f32
    Xn = Xf / np.linalg.norm(Xf, axis=1, keepdims=True)
    S = Xn @ Xn.T
    np.fill_diagonal(S, -2.0)
    true_top = np.argsort(-S, axis=1)[:, :10]
    recall = np.mean(
        [len(got.get(i, set()) & set(true_top[i])) / 10 for i in range(n)]
    )
    assert recall >= 0.9, f"recall@10 = {recall:.3f}"
    # k-regular out-degree: every vertex carries exactly k neighbors
    assert all(len(v) == 10 for v in got.values())


def test_r12_heavy_kernels_have_no_single_partition_exchange(spark):
    """The r12 kernels' scale claims hinge on NO stage funneling into
    one reducer: dense ranks are banded windows (suffix LRS), top-k is
    TakeOrdered/WindowGroupLimit (RAKE, BM25), the shortlist rank is a
    count-greater broadcast (RRF). An `Exchange SinglePartition` in
    any of their plans would falsify that — pin its absence.
    (TakeOrderedAndProject does its own bounded final merge, which is
    k-row, not data-sized.)"""
    from utility_service_areas_spark.plans.registry import all_queries

    qs = all_queries()
    for name in (
        "dedup_suffix_lrs",
        "text_rake_keyphrases",
        "search_rrf_fusion",
        "trade_graph_lpa",
        "embedding_knn_graph",
        "geo_simplify_vw",
    ):
        df = qs[name](spark, SMOKE_SF)
        plan = physical_plan(df)
        assert "Exchange SinglePartition" not in plan, name


def test_mmr_rerank_spends_one_slot_on_a_dup_cluster(spark, tmp_path):
    """MMR's point: a near-duplicate cluster that floods the cosine
    top-k collapses to (at most) one early MMR pick. Planted substrate:
    query vec_id=0; vecs 10-12 are near-identical and most-relevant
    (plain top-3 = the whole cluster); vecs 20+ are distinct mid-
    relevance. The 5 MMR picks must not contain more than one cluster
    member among ranks 1-3, and the plain top-3 must contain all
    three (proving MMR actually changed the outcome)."""
    import numpy as np

    from utility_service_areas_spark.plans.registry import all_queries

    rng = np.random.default_rng(3)
    d = 64

    def e(i):
        v = np.zeros(d)
        v[i] = 1.0
        return v

    # Standard-basis construction so every pairwise cosine is chosen:
    # cluster at cos 0.95 to the query along a SHARED off-axis (their
    # mutual sim ~1.0), mids at cos 0.94 along DISTINCT axes (mutual
    # sim ~0.88, sim to cluster ~0.89). With lambda=0.7 the second
    # cluster member scores 7*.95 - 3*1.0 = 3.65 while a mid scores
    # 7*.94 - 3*.89 = 3.91 — diversity must win rounds 2+.
    q = e(0)
    vecs = {0: q}
    for i in (1, 2, 3, 4):  # other queries, far away
        vecs[i] = -q + rng.normal(size=d) * 0.05
    off = np.sqrt(1 - 0.95**2)
    for k, i in enumerate((10, 11, 12)):  # the dup cluster
        vecs[i] = 0.95 * q + off * e(1) + rng.normal(size=d) * 1e-4
    for j, i in enumerate(range(20, 28)):  # distinct mid-relevance
        vecs[i] = 0.94 * q + 0.34 * e(j + 2)
    spark.createDataFrame(
        [(int(i), [float(x) for x in v], 0) for i, v in vecs.items()],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    out = all_queries()["ann_mmr_rerank"](spark, str(tmp_path)).collect()
    q0 = sorted(
        ((r.mmr_rank, r.neighbor_id) for r in out if r.query_id == 0)
    )
    cluster = {10, 11, 12}
    top3_mmr = {n for rk, n in q0 if rk <= 3}
    assert len(top3_mmr & cluster) <= 1, q0

    brute = all_queries()["ann_cosine_topk"](spark, str(tmp_path)).collect()
    top3_plain = {
        r.neighbor_id for r in brute if r.query_id == 0 and r.rank <= 3
    }
    assert top3_plain == cluster, top3_plain


def test_rake_matches_brute_reference(spark, tmp_path):
    """RAKE semantics vs an independent Python implementation (same
    spec: stopword-free runs capped at 4 tokens, word score =
    degree/frequency as (deg*1e6)//freq, phrase score = sum of member
    word scores, top-20 by (score DESC, phrase ASC))."""
    import random

    from utility_service_areas_spark.functions.textops import STOPWORDS
    from utility_service_areas_spark.plans.registry import all_queries

    rng = random.Random(5)
    vocab = ["red", "apple", "green", "banana", "fast", "query", "plan"]
    stops = list(STOPWORDS)
    docs = []
    for d in range(30):
        words = [
            rng.choice(stops) if rng.random() < 0.35 else rng.choice(vocab)
            for _ in range(rng.randint(3, 20))
        ]
        docs.append((d, " ".join(words)))
    write_docs(spark, str(tmp_path), docs)

    got = {
        r.phrase: (r.n_occurrences, r.score_micros)
        for r in all_queries()["text_rake_keyphrases"](spark, str(tmp_path)).collect()
    }

    # brute reference
    stopset = set(stops)
    instances = []  # (phrase tuple)
    for _, text in docs:
        run = []
        for t in text.split() + ["the"]:  # sentinel flush
            if t in stopset:
                if run:
                    instances.append(tuple(run))
                run = []
            else:
                run.append(t)
    short = [p for p in instances if len(p) <= 4]
    freq, deg = {}, {}
    for p in short:
        for w in p:
            freq[w] = freq.get(w, 0) + 1
            deg[w] = deg.get(w, 0) + len(p)
    wscore = {w: (deg[w] * 1_000_000) // freq[w] for w in freq}
    byphrase = {}
    for p in short:
        s = sum(wscore[w] for w in p)
        key = " ".join(p)
        n, _ = byphrase.get(key, (0, s))
        byphrase[key] = (n + 1, s)
    want = dict(
        sorted(byphrase.items(), key=lambda kv: (-kv[1][1], kv[0]))[:20]
    )
    assert got == want


def test_lpa_never_mixes_disconnected_components(spark, tmp_path):
    """Label propagation soundness on a hand-built graph: two
    DISCONNECTED customer<->supplier bicliques must land in disjoint
    community label sets (synchronous LPA may oscillate WITHIN a
    bipartite component — fixed rounds make that deterministic — but
    a label can never cross a cut)."""
    from utility_service_areas_spark.plans.registry import all_queries

    # component 1: customers 1-3 x suppliers 1-2 (orders 10-12)
    # component 2: customers 101-102 x suppliers 11-13 (orders 20-21)
    orders = [(10, 1), (11, 2), (12, 3), (20, 101), (21, 102)]
    lines = [
        (10, 1), (10, 2), (11, 1), (11, 2), (12, 1), (12, 2),
        (20, 11), (20, 12), (20, 13), (21, 11), (21, 12), (21, 13),
    ]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        lines, "l_orderkey long, l_suppkey long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")

    out = all_queries()["trade_graph_lpa"](spark, str(tmp_path)).collect()
    comp1_nodes = {1, 2, 3, 10_000_001, 10_000_002}
    comp2_nodes = {101, 102, 10_000_011, 10_000_012, 10_000_013}
    comm1 = {r.community for r in out if r.min_node in comp1_nodes}
    comm2 = {r.community for r in out if r.min_node in comp2_nodes}
    assert comm1 and comm2 and not (comm1 & comm2)
    assert sum(r.n_nodes for r in out) == len(comp1_nodes) + len(comp2_nodes)
    # community ids are themselves node ids of the right component
    assert all(c in comp1_nodes for c in comm1)
    assert all(c in comp2_nodes for c in comm2)


def test_suffix_lrs_saturates_at_rank_resolution(spark, tmp_path):
    """Code-review r12: rank_K equality certifies only the first 2^K
    tokens, so the equal-rank branch must CAP at 2^K instead of
    claiming the whole remaining suffix. With k_levels=4 (resolution
    16), two 24-token docs sharing their first 20 tokens report
    max_rep_len == 16 (saturated) — never the uncapped 24."""
    from utility_service_areas_spark.operators.suffix import doc_repeat_stats
    from utility_service_areas_spark.sources.tables import load_table

    shared = " ".join(f"s{j}" for j in range(20))
    docs = [
        (1, shared + " x1 x2 x3 x4"),
        (2, shared + " y1 y2 y3 y4"),
    ]
    write_docs(spark, str(tmp_path), docs)
    out = {
        r.doc_id: r.max_rep_len
        for r in doc_repeat_stats(
            load_table(spark, str(tmp_path), "documents"), k_levels=4
        ).collect()
    }
    assert out == {1: 16, 2: 16}
