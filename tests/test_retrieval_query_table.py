"""Query-TABLE-driven retrieval (VERDICT r12 task #5).

The registered retrieval queries (#219 BM25, #227 RRF, #229 MMR) run a
3-literal oracled workload; production retrieval takes a QUERIES
TABLE. These tests run a 50-query frame through the same builders
(bm25_topk_frame -> rrf_fusion_frame -> mmr_rerank_frame) and pin that
the plan shape survives: query-dim broadcast prune, WindowGroupLimit
top-k, no cartesian product, no Python in the scoring path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF

from utility_service_areas_spark.plans.registry import physical_plan
from utility_service_areas_spark.sources.tables import load_table

N_Q = 50


def _queries_frame(spark, docs):
    """50 deterministic 3-term queries drawn from the corpus vocab
    (every query matches at least its source tokens)."""
    from utility_service_areas_spark.functions.textops import tokens

    vocab = [
        r.t
        for r in docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .distinct()
        .orderBy("t")
        .collect()
    ]
    v = len(vocab)
    assert v >= 3, "substrate vocab too small for the test"
    # 3 distinct terms per query, overlapping across queries (the
    # substrate vocab is small); offsets 0, v//3, 2v//3 are distinct
    rows = [
        (f"q{i:02d}", vocab[(i + off) % v])
        for i in range(N_Q)
        for off in (0, v // 3, (2 * v) // 3)
    ]
    return spark.createDataFrame(rows, "query_id string, t string")


def test_bm25_rrf_mmr_on_50_query_table(spark):
    from utility_service_areas_spark.operators.dedup import lineage_cut
    from utility_service_areas_spark.plans.ann_queries import (
        mmr_rerank_frame,
    )
    from utility_service_areas_spark.plans.text_queries import (
        bm25_topk_frame,
        rrf_fusion_frame,
    )

    docs = load_table(spark, SMOKE_SF, "documents")
    qterms = _queries_frame(spark, docs)

    # --- BM25 over the 50-query table -------------------------------
    bm25 = bm25_topk_frame(docs, qterms)
    plan = physical_plan(bm25)
    assert "WindowGroupLimit" in plan, "per-query top-k must push down"
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = bm25.collect()
    got_q = {r.query_id for r in rows}
    assert len(got_q) == N_Q, "every vocab-drawn query must match docs"
    assert all(1 <= r.rk <= 10 for r in rows)
    per_q: dict[str, int] = {}
    for r in rows:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert all(v <= 10 for v in per_q.values())

    # --- RRF fusion over the 50-query BM25 frame ---------------------
    fused = rrf_fusion_frame(docs, bm25)
    fplan = physical_plan(fused)
    assert "CartesianProduct" not in fplan
    assert "BatchEvalPython" not in fplan and "ArrowEvalPython" not in fplan
    frows = fused.collect()
    assert {r.query_id for r in frows} == got_q
    assert all(1 <= r.rank <= 5 for r in frows)
    # fusion only reorders within each query's candidate set
    cand = {(r.query_id, r.doc_id) for r in rows}
    assert all((r.query_id, r.doc_id) in cand for r in frows)

    # --- MMR rerank over the fused candidates ------------------------
    emb = load_table(spark, SMOKE_SF, "embeddings")
    mmr_cand = lineage_cut(
        fused.join(
            emb.select(F.col("vec_id").alias("doc_id")), "doc_id"
        ).select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            F.col("rrf_micros").alias("rel"),
            "rank",
        )
    )
    mmr = mmr_rerank_frame(emb, mmr_cand, n_select=3)
    mplan = physical_plan(mmr)
    assert "CartesianProduct" not in mplan
    assert "BatchEvalPython" not in mplan and "ArrowEvalPython" not in mplan
    mrows = mmr.collect()
    assert mrows, "MMR must select from the fused candidates"
    by_q: dict[str, list] = {}
    for r in mrows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, picks in by_q.items():
        ranks = sorted(p.mmr_rank for p in picks)
        assert ranks == list(range(1, len(ranks) + 1)), (q, ranks)
        assert len({p.neighbor_id for p in picks}) == len(picks)
        # rank-1 pick is the highest-rel candidate (MMR round 1 = rel)
        assert picks[0].query_id == q
