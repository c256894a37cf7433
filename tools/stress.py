"""Stress harness: scale the heavy tables past sf0.1 and profile the
operators whose cost is data-shaped (pair generation, ANN, sketches) —
the bottlenecks sf0.1 bench can't expose.

Builds an expanded substrate in --out (default /tmp/stress):
  - documents / embeddings / events replicated --factor times via
    DuckDB (ids shifted to stay unique; replica docs get one prepended
    marker token so replicas are NEAR-duplicates — deliberately
    stressing the candidate-pair volume of the dedup family);
  - every other table symlinked from --base.

Then runs the named queries (default: the pair-generating + sketch
set) against it and prints one JSON line, bench.py-style.

Usage:
    python tools/stress.py [--factor 10] [--out /tmp/stress]
                           [--base /root/testdata/sf0.1] [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALED = ("documents", "embeddings", "events", "customer")
LINKED = ("region", "nation", "supplier", "part", "orders", "lineitem")

DEFAULT_QUERIES = [
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "docs_block_dedup",
    "docs_benchmark_overlap",
    "doc_fingerprint",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "dedup_embedding_cosine",
    "dedup_exact_substring",
    "dedup_keep_best",
    "semantic_dedup_keep",
    "dedup_quote_containment",
    "dedup_graph_triangles",
    "dedup_cluster_density",
    "ann_pq_topk",
    "ann_ivfpq_residual_topk",
    "docs_cdc_chunks",
    "dedup_cdc_clusters",
    "embedding_pca_project",
    "embedding_pca_map",
    "token_collocations",
    "simhash_hamming_histogram",
    "docs_repetition_signals",
    "dedup_suffix_lrs",
    "embedding_knn_graph",
    "text_bm25_topk",
    "embedding_pair_histogram",
    "hll_registers_users",
    "tdigest_value_quantiles",
    # geo kernels: customer is SCALED, so the point side of the spatial
    # join grows with --factor (the polygon side stays dim-sized, as at
    # cluster scale).
    "geo_point_in_polygon",
    "geo_viewport_query",
    # events/window family over the scaled events table
    "events_sessionize",
    "events_asof_attribution",
    "rolling_7d_active_users",
]

_EXPAND_SQL = {
    "documents": """
        SELECT doc_id + i * (SELECT max(doc_id) + 1 FROM src) AS doc_id,
               CASE WHEN i = 0 THEN text ELSE 'r' || i || ' ' || text END AS text,
               lang, source, n_chars
        FROM src, range({factor}) AS t(i)
    """,
    "embeddings": """
        SELECT vec_id + i * (SELECT max(vec_id) + 1 FROM src) AS vec_id,
               embedding, label
        FROM src, range({factor}) AS t(i)
    """,
    "events": """
        SELECT event_id + i * (SELECT max(event_id) + 1 FROM src) AS event_id,
               ts, user_id, event_type, value, props
        FROM src, range({factor}) AS t(i)
    """,
    "customer": """
        SELECT c_custkey + i * (SELECT max(c_custkey) + 1 FROM src) AS c_custkey,
               c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM src, range({factor}) AS t(i)
    """,
}


def build_substrate(base: str, out: str, factor: int) -> None:
    import duckdb

    os.makedirs(out, exist_ok=True)
    for t in LINKED:
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.lexists(dst):
            os.remove(dst)
        os.symlink(os.path.join(base, f"{t}.parquet"), dst)
    con = duckdb.connect()
    for t in SCALED:
        src = os.path.join(base, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.exists(dst):
            os.remove(dst)
        con.execute(f"CREATE OR REPLACE VIEW src AS SELECT * FROM '{src}'")
        q = _EXPAND_SQL[t].format(factor=factor)
        con.execute(f"COPY ({q}) TO '{dst}' (FORMAT PARQUET)")


def run_geo_grid(spark, factor: int) -> tuple[dict[str, float], dict[str, int]]:
    """The >100k-polygon grid_cell stress (VERDICT r5 #3/#4): synthetic
    rect polygons on a 1000-wide lattice (each overlaps its right/down
    neighbor → overlap pairs stay linear in n), points spread over the
    same extent, plus a pathological-skew run (90% of points in ONE
    grid cell) with and without the salt lever.

    factor 10 → 100k polygons / 1M points; 30 → 300k / 3M. Asserts the
    candidate joins are grid-cell EQUI-joins (no BNLJ / cartesian)."""
    from pyspark.sql import functions as F

    from utility_service_areas_spark.operators.geo import (
        points_in_polygons,
        polygon_overlap_pairs,
        rect_geometry,
    )

    ncols = 1000
    n_polys = 10_000 * factor
    n_points = 100_000 * factor
    yext = 2.0 * (n_polys // ncols)
    polys = spark.range(n_polys).select(
        F.col("id").alias("pid"),
        rect_geometry(
            (F.col("id") % ncols).cast("double") * 2.0,
            F.floor(F.col("id") / ncols).cast("double") * 2.0,
            F.lit(2.5),
            F.lit(2.5),
        ).alias("geometry"),
    )
    uniform = spark.range(n_points).select(
        F.col("id").alias("point_id"),
        (F.pmod(F.hash("id"), F.lit(ncols * 2000)) / 1000.0).alias("px"),
        (F.pmod(F.hash("id", F.lit(1)), F.lit(int(yext * 1000))) / 1000.0).alias("py"),
    )
    # 90% of points inside grid cell (0,0), the rest uniform
    skewed = spark.range(n_points).select(
        F.col("id").alias("point_id"),
        F.when(
            F.col("id") % 10 < 9, F.pmod(F.hash("id"), F.lit(1900)) / 1000.0
        )
        .otherwise(F.pmod(F.hash("id"), F.lit(ncols * 2000)) / 1000.0)
        .alias("px"),
        F.when(
            F.col("id") % 10 < 9, F.pmod(F.hash("id", F.lit(1)), F.lit(1900)) / 1000.0
        )
        .otherwise(F.pmod(F.hash("id", F.lit(1)), F.lit(int(yext * 1000))) / 1000.0)
        .alias("py"),
    )

    # The regime where salting matters: the hot cell ALSO holds many
    # polygons (200 tiny stacked rects), so the single-key join stream
    # is points×polys in ONE reducer; tiny extents keep the verified
    # output small so the measurement isolates join-stream cost.
    hotpolys = spark.range(200).select(
        F.col("id").alias("pid"),
        rect_geometry(
            F.lit(0.9) + (F.col("id") % 20).cast("double") * 0.001,
            F.lit(0.9),
            F.lit(0.002),
            F.lit(0.002),
        ).alias("geometry"),
    )

    # With a broadcast-able polygon side the grid join is a broadcast
    # hash join and skew is structurally impossible (the point side
    # never shuffles) — measured: a 180M-candidate hot cell clears in
    # <1 s. The at-scale regime (polygon side too big to broadcast →
    # shuffle join → hot cell serializes one reducer) is emulated by
    # disabling auto-broadcast for the hotpoly runs; `skew` reports
    # whether AQE's skew-join split fired on the final plan.
    runs: dict[str, tuple] = {
        "pip_grid_uniform": (
            lambda: points_in_polygons(uniform, polys, id_col="pid", grid_cell=2.0),
            False,
        ),
        "pip_grid_skew_nosalt": (
            lambda: points_in_polygons(skewed, polys, id_col="pid", grid_cell=2.0),
            False,
        ),
        "pip_hotpoly_bcast": (
            lambda: points_in_polygons(skewed, hotpolys, id_col="pid", grid_cell=2.0),
            False,
        ),
        "pip_hotpoly_shuffle_nosalt": (
            lambda: points_in_polygons(skewed, hotpolys, id_col="pid", grid_cell=2.0),
            True,
        ),
        "pip_hotpoly_shuffle_salt16": (
            lambda: points_in_polygons(
                skewed, hotpolys, id_col="pid", grid_cell=2.0, salt=16
            ),
            True,
        ),
        "overlap_grid": (
            lambda: polygon_overlap_pairs(polys, "pid", grid_cell=2.0),
            False,
        ),
    }
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    skew: dict[str, bool] = {}
    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    for name, (build, no_broadcast) in runs.items():
        old = spark.conf.get(bcast_key)
        if no_broadcast:
            spark.conf.set(bcast_key, "-1")
        try:
            df = build()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastNestedLoopJoin" not in plan, f"{name}: BNLJ in plan"
            assert "CartesianProduct" not in plan, f"{name}: cartesian in plan"
            t0 = time.time()
            rows[name] = df.count()
            timings[name] = round(time.time() - t0, 2)
            skew[name] = "skew=true" in df._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set(bcast_key, old)
    return timings, rows, skew


def run_ivf_crossover(spark, out: str) -> dict:
    """Measure the brute-vs-IVF crossover in the query count Q.

    IVF's assignment pass costs O(n*C) folds regardless of Q; brute
    costs O(Q*n). So IVF only pays when Q >> C — this run pins that
    claim with numbers at the expanded substrate (C=64, n_probe=8),
    plus IVF recall@10 against brute ground truth at Q=50.
    """
    from pyspark.sql import functions as F

    from utility_service_areas_spark.operators.ann import (
        brute_force_topk,
        ivf_topk,
    )

    emb = spark.read.parquet(os.path.join(out, "embeddings.parquet"))
    n_vecs = emb.count()
    res: dict = {"n_vectors": n_vecs, "n_centroids": 64, "n_probe": 8}

    def timed(df):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 2)

    for q_count in (5, 500):
        queries = emb.filter(F.col("vec_id") < q_count)
        res[f"brute_q{q_count}_s"] = timed(brute_force_topk(emb, queries, k=10))
        res[f"ivf_q{q_count}_s"] = timed(
            ivf_topk(emb, queries, k=10, n_centroids=64, n_probe=8)
        )

    # recall@10 at Q=50 (cheap enough for exact ground truth)
    queries = emb.filter(F.col("vec_id") < 50)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, queries, k=10, n_centroids=64, n_probe=8).collect()
    }
    res["recall_at_10_q50"] = round(len(truth & got) / max(len(truth), 1), 3)
    return res


def build_ivf_1m_substrate(base: str, out: str, n: int = 1_000_000) -> str:
    """Deterministic ≥1M×64 vector substrate: the sf0.1 embeddings
    (2000 vectors) replicated n/2000 times with a hash-derived per-copy
    perturbation so replicas are near-but-not-identical — no RNG, so
    every run (and the bitwise kernel-equality claim) replays exactly.
    """
    import duckdb

    os.makedirs(out, exist_ok=True)
    dst = os.path.join(out, "embeddings_1m.parquet")
    if not os.path.exists(dst):
        duckdb.sql(
            f"""
            COPY (
              SELECT vec_id + i * 2000 AS vec_id,
                     list_transform(embedding,
                       x -> x + (hash(vec_id + i * 2000) % 1000) / 2000.0)
                       AS embedding,
                     label
              FROM '{base}/embeddings.parquet', range({n // 2000}) AS t(i)
            ) TO '{dst}' (FORMAT PARQUET)
            """
        )
    return dst


def run_ivf_1m(spark, base: str, out: str) -> dict:
    """The C≈√n real-ANN regime measurement (VERDICT r6 task 3).

    At n=1M, C=√n=1000 the corpus→cell assignment is the IVF bound
    (O(n·C·d) = 6.4e10 multiply-adds at d=64). Head-to-head at a 20k
    corpus slice, then the blocked-numpy kernel at the full 1M — the
    JVM interpreted fold is too slow to run at 1M (the 20k number
    extrapolates to ~3 h), which is itself the finding. Recall@10 is
    measured against driver-side exact numpy ground truth at Q=50.
    """
    import numpy as np

    from pyspark.sql import functions as F

    from utility_service_areas_spark.operators.ann import (
        _numpy_assign_top1,
        dot_expr,
        ivf_topk,
        norm2_expr,
    )

    path = build_ivf_1m_substrate(base, out)
    emb = spark.read.parquet(path)
    res: dict = {"n_vectors": emb.count(), "n_centroids": 1000, "dim": 64}

    cents = (
        emb.filter(F.col("vec_id") % 997 == 0)
        .orderBy("vec_id")
        .limit(1000)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_vec"),
            norm2_expr(F.col("embedding")).alias("cent_n"),
        )
        .filter(F.col("cent_n") > 0)
    )
    cents_rows = cents.collect()

    def timed(df) -> float:
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 1)

    # head-to-head on the same 20k slice (full-JVM 1M would be hours)
    slice20k = emb.filter(F.col("vec_id") < 20_000).select(
        F.col("vec_id").alias("nid"), "embedding"
    )
    cent_score = dot_expr(F.col("embedding"), F.col("cent_vec")) / F.col("cent_n")
    jvm = (
        slice20k.crossJoin(F.broadcast(cents))
        .withColumn("cent_score", cent_score)
        .groupBy("nid")
        .agg(
            F.any_value("embedding").alias("embedding"),
            F.max_by(
                F.col("cent_id"), F.struct(F.col("cent_score"), -F.col("cent_id"))
            ).alias("cell"),
        )
    )
    res["jvm_assign_20k_s"] = timed(jvm)
    res["numpy_assign_20k_s"] = timed(
        _numpy_assign_top1(slice20k, "nid", "embedding", cents_rows)
    )
    res["assign_speedup_20k"] = round(
        res["jvm_assign_20k_s"] / res["numpy_assign_20k_s"], 1
    )
    full = emb.select(F.col("vec_id").alias("nid"), "embedding")
    res["numpy_assign_1m_s"] = timed(
        _numpy_assign_top1(full, "nid", "embedding", cents_rows)
    )
    res["jvm_assign_1m_extrapolated_s"] = round(res["jvm_assign_20k_s"] * 50, 0)

    # recall@10 at Q=50, n_probe=32≈√C, vs exact numpy ground truth
    import duckdb

    X = np.array(
        duckdb.sql(
            f"SELECT embedding FROM '{path}' ORDER BY vec_id"
        ).fetchnumpy()["embedding"].tolist(),
        dtype=np.float64,
    )
    norms = np.sqrt((X * X).sum(axis=1))
    q_ids = np.arange(50)
    sims = (X[q_ids] @ X.T) / (norms[q_ids][:, None] * norms[None, :])
    np.fill_diagonal(sims[:, : len(q_ids)], -np.inf)
    truth = {
        (int(q), int(j))
        for qi, q in enumerate(q_ids)
        for j in np.argpartition(-sims[qi], 10)[:10]
        if j != q
    }
    t0 = time.time()
    got_rows = ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 50),
        k=10,
        n_centroids=1000,
        n_probe=32,
        centroid_stride=997,
        assign_via="numpy",
    ).collect()
    res["ivf_end_to_end_q50_s"] = round(time.time() - t0, 1)
    got = {(r.query_id, r.neighbor_id) for r in got_rows}
    res["recall_at_10_q50"] = round(len(truth & got) / max(len(truth), 1), 3)
    return res


def run_incremental_index(spark, out: str) -> dict:
    """The persisted-band-index claim (SURVEY §7 r8 candidate, pulled
    in): at 100 TB you don't re-band the corpus per batch — the old
    side's (doc, band_idx, band_hash) index is WRITTEN ONCE and each
    batch replays against the parquet index. Measures (a) one-time
    index build over the expanded corpus, (b) per-batch ingest cost
    against the persisted index, for corpus = the --out substrate.
    The design claim: (b) is ~flat in corpus size (it pays for batch
    bands + matched buckets, not the corpus)."""
    import shutil

    from pyspark.sql import functions as F

    from utility_service_areas_spark.operators.dedup import (
        minhash_bands,
        minhash_signatures,
    )

    docs = spark.read.parquet(os.path.join(out, "documents.parquet"))
    n_docs = docs.count()
    is_new = F.col("doc") % 10 == 7

    idx_path = os.path.join(out, "band_index.parquet")
    sig_path = os.path.join(out, "sig_index.parquet")
    for p in (idx_path, sig_path):
        if os.path.isdir(p):
            shutil.rmtree(p)

    t0 = time.time()
    sig = minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=8)
    sig.filter(~(F.col("doc") % 10 == 7)).write.parquet(sig_path)
    old_sig = spark.read.parquet(sig_path)
    minhash_bands(old_sig).write.parquet(idx_path)
    build_s = round(time.time() - t0, 2)

    # per-batch replay: band ONLY the new batch, join the parquet index
    t0 = time.time()
    new_sig = minhash_signatures(
        docs.filter(F.col("doc_id") % 10 == 7), "doc_id", "text", k=3, n_hashes=8
    )
    new_bands = minhash_bands(new_sig).withColumnRenamed("doc", "new_doc")
    old_bands = spark.read.parquet(idx_path).withColumnRenamed("doc", "old_doc")
    old_sz = old_bands.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("old_n")
    )
    cand = (
        new_bands.join(old_bands, ["band_idx", "band_hash"])
        .join(old_sz.filter(F.col("old_n") <= 100), ["band_idx", "band_hash"])
        .select("new_doc", "old_doc")
        .distinct()
    )
    n_cand = cand.count()
    batch_s = round(time.time() - t0, 2)
    return {
        "n_docs": n_docs,
        "index_build_s": build_s,
        "batch_ingest_s": batch_s,
        "n_candidates": n_cand,
    }


def run_streaming(spark, out: str, n_slices: int = 8) -> dict:
    """Structured-Streaming throughput at the expanded substrate.

    The scaled events table is split into time-ordered slices
    (staggered mtimes pin FileStreamSource's oldest-first order — the
    stateful sessionizer's arrival contract), then each streaming
    kernel consumes ALL slices via availableNow with
    maxFilesPerTrigger=2, so state genuinely carries across
    micro-batches. Reports wall-clock and rows/sec per kernel.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from utility_service_areas_spark.sources.tables import (
        normalize_event_ts,
        raw_table_schema,
    )
    from utility_service_areas_spark.streaming.events import (
        sessionize_stateful,
        tdigest_stream,
        tumbling_counts,
    )

    stream_dir = out.rstrip("/") + "_stream"
    if os.path.isdir(stream_dir):
        shutil.rmtree(stream_dir)
    os.makedirs(stream_dir)
    src = pq.read_table(os.path.join(out, "events.parquet"))
    order = pa.compute.sort_indices(src, sort_keys=[("ts", "ascending")])
    src = src.take(order)
    n_rows = src.num_rows
    step = (n_rows + n_slices - 1) // n_slices
    t0 = int(time.time()) - 3600
    for i in range(n_slices):
        p = os.path.join(stream_dir, f"b{i}.parquet")
        pq.write_table(src.slice(i * step, min(step, n_rows - i * step)), p)
        os.utime(p, (t0 + i, t0 + i))

    schema = raw_table_schema(spark, out, "events")
    kernels = {
        "tumbling_counts": tumbling_counts,
        "sessionize_stateful": sessionize_stateful,
        "tdigest_stream": tdigest_stream,
    }
    res: dict = {"n_events": n_rows, "n_slices": n_slices}
    for name, fn in kernels.items():
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(stream_dir)
        )
        t_start = time.time()
        q = (
            fn(normalize_event_ts(raw))
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(f"stress_{name}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.time() - t_start
        batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        res[f"{name}_s"] = round(wall, 2)
        res[f"{name}_rows_per_s"] = int(n_rows / wall)
        res[f"{name}_batches"] = batches
    return res


def run_lrs_k_sweep(spark, out: str) -> dict[str, float]:
    """VERDICT r12 task #3: cost of each extra prefix-doubling round.
    K=8 fits the substrate (256-token resolution); production doc
    lengths (2k-16k tokens) need K=11-14, and each +1 adds one banded
    dense-rank round + one descent level. Times doc_repeat_stats at
    K=8/10/12 over the --out documents (noop sink, same honesty rules
    as the main loop)."""
    from utility_service_areas_spark.operators.suffix import doc_repeat_stats
    from utility_service_areas_spark.sources.tables import load_table

    timings: dict[str, float] = {}
    for k in (8, 10, 12):
        t0 = time.time()
        df = doc_repeat_stats(
            load_table(spark, out, "documents"), min_rep=8, k_levels=k
        )
        df.write.format("noop").mode("overwrite").save()
        timings[f"k{k}"] = round(time.time() - t0, 2)
    return timings


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/stress")
    ap.add_argument("--keep", action="store_true", help="reuse existing --out")
    ap.add_argument(
        "--geo-grid",
        action="store_true",
        help="run the synthetic >100k-polygon grid_cell stress instead",
    )
    ap.add_argument(
        "--all",
        action="store_true",
        help="run EVERY registered query (the round-ritual scale-cliff smoke)",
    )
    ap.add_argument(
        "--ivf-crossover",
        action="store_true",
        help="measure brute-vs-IVF crossover in Q on the existing --out substrate",
    )
    ap.add_argument(
        "--streaming",
        action="store_true",
        help="measure streaming-kernel throughput on the existing --out substrate",
    )
    ap.add_argument(
        "--ivf-1m",
        action="store_true",
        help="C=sqrt(n) assignment-kernel measurement at a 1M-vector substrate",
    )
    ap.add_argument(
        "--incremental-index",
        action="store_true",
        help="persisted-band-index ingest cost on the existing --out substrate",
    )
    ap.add_argument(
        "--lrs-k",
        action="store_true",
        help="suffix-LRS resolution sweep: doc_repeat_stats at K=8/10/12",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    if args.geo_grid:
        from utility_service_areas_spark.session import build_session

        spark = build_session("usa-spark-stress-geo")
        spark.sparkContext.setLogLevel("ERROR")
        timings, rows, skew = run_geo_grid(spark, args.factor)
        print(
            json.dumps(
                {
                    "metric": "stress_geo_grid",
                    "value": round(sum(timings.values()), 2),
                    "unit": "sec",
                    "factor": args.factor,
                    "n_polys": 10_000 * args.factor,
                    "n_points": 100_000 * args.factor,
                    "queries": timings,
                    "rows": rows,
                    "aqe_skew_fired": skew,
                }
            )
        )
        return

    if args.ivf_crossover:
        from utility_service_areas_spark.session import build_session

        spark = build_session("usa-spark-stress-ivf")
        spark.sparkContext.setLogLevel("ERROR")
        out = run_ivf_crossover(spark, args.out)
        print(json.dumps({"metric": "ivf_crossover", "unit": "sec", **out}))
        return

    if args.ivf_1m:
        from utility_service_areas_spark.session import build_session

        spark = build_session("usa-spark-stress-ivf1m")
        spark.sparkContext.setLogLevel("ERROR")
        out = run_ivf_1m(spark, args.base, args.out)
        print(json.dumps({"metric": "ivf_1m_assignment", "unit": "sec", **out}))
        return

    if args.incremental_index:
        from utility_service_areas_spark.session import build_session

        spark = build_session("usa-spark-stress-inc")
        spark.sparkContext.setLogLevel("ERROR")
        out = run_incremental_index(spark, args.out)
        print(json.dumps({"metric": "incremental_index", "unit": "sec", **out}))
        return

    if args.streaming:
        from utility_service_areas_spark.session import build_session

        spark = build_session("usa-spark-stress-stream")
        spark.sparkContext.setLogLevel("ERROR")
        out = run_streaming(spark, args.out)
        print(json.dumps({"metric": "streaming_throughput", "unit": "sec", **out}))
        return

    if args.lrs_k:
        from utility_service_areas_spark.session import build_session

        if not args.keep:
            if os.path.isdir(args.out):
                shutil.rmtree(args.out)
            build_substrate(args.base, args.out, args.factor)
        spark = build_session("usa-spark-stress-lrsk")
        spark.sparkContext.setLogLevel("ERROR")
        timings = run_lrs_k_sweep(spark, args.out)
        print(
            json.dumps(
                {
                    "metric": "lrs_k_sweep",
                    "unit": "sec",
                    "factor": args.factor,
                    "base": args.base,
                    "queries": timings,
                }
            )
        )
        return

    if not args.keep:
        if os.path.isdir(args.out):
            shutil.rmtree(args.out)
        build_substrate(args.base, args.out, args.factor)

    from __spark_entry__ import SMOKE_SF_DIR
    from utility_service_areas_spark.plans.registry import all_queries
    from utility_service_areas_spark.session import build_session

    spark = build_session("usa-spark-stress")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    if args.all:
        names = list(qs)
    else:
        names = args.names or [n for n in DEFAULT_QUERIES if n in qs]

    # Warm the JVM/session on the smallest SF so the first timed query
    # doesn't absorb startup cost (same convention as bench.py).
    qs[names[0]](spark, SMOKE_SF_DIR).count()

    # count() alone lets Catalyst DROP whole subtrees — a final
    # `docs LEFT JOIN (groupBy doc_id ...)` is join-eliminated because
    # the right side is provably unique per key and no column is
    # consumed, so the expensive aggregate never runs (measured:
    # dedup_exact_substring "0.4 s" by count vs 11 s honest at 10x).
    # The noop sink consumes every column of every row, so nothing can
    # be pruned away; row counts are taken via a cheap agg AFTER the
    # timed run.
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name in names:
        t0 = time.time()
        df = qs[name](spark, args.out)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 2)
        rows[name] = qs[name](spark, args.out).count()
    print(
        json.dumps(
            {
                "metric": "stress_total",
                "value": round(sum(timings.values()), 2),
                "unit": "sec",
                "factor": args.factor,
                "base": args.base,
                "queries": timings,
                "rows": rows,
            }
        )
    )


if __name__ == "__main__":
    main()
