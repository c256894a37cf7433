"""Persisted IVFPQ vector-index lifecycle: build once -> search many.

VERDICT r12 task #1. Every ANN registry query re-fits its index inline
(right for a value-oracled benchmark, wrong for serving): a 100 TB
serving path builds the index ONCE, persists it, and answers many
query batches from the artifacts — FAISS's write_index/read_index/
add() contract re-expressed as parquet + a manifest.

Index layout under ``index_dir`` (format v2, r15 — the BM25 v2
atomic-segment posture ported to vectors)::

    centroids/            parquet (cent_id, cent_vec, cent_n) — IVF cells
    segments/seg-<tok>/   parquet (neighbor_id, code_0..code_{m-1}, cell)
    _MANIFEST.json        params + m x k x sub_dim PQ codebooks +
                          the SEGMENT LIST + additive counts + txn ids

Commit protocol: the segment-index store in ``sources/fsutil.py``,
shared with the BM25 index. Every mutation stages parquet under
``segments/_tmp-seg-<tok>``, renames it whole (``fsutil.stage_segment``)
and becomes visible only when the manifest lists it; the manifest is
the single commit marker (``fsutil.commit_manifest``). A crash ANYWHERE
inside an add leaves either an un-renamed staging dir or an unlisted
segment — both invisible to readers, both reclaimed later by the
age-gated ``fsutil.vacuum_index``. A RETRIED add with the same
``txn_id`` is a no-op (the S39 txn posture), so streaming maintenance
(S42) is exactly-once across torn adds.

Writer concurrency (ADVICE r15): each commit claims the manifest's
next generation first (``_gen-N`` O_EXCL markers) — exactly one writer
commits each generation; a loser re-reads the winner's manifest and
re-applies its delta (``fsutil.commit_attempts``), so two concurrent
adds BOTH land (neither's segment is dropped by a last-replace-wins
overwrite). A crashed claimer's marker is stolen after
``fsutil.GEN_STEAL_SECONDS``.

JSON floats round-trip IEEE doubles
exactly (repr shortest-decimal), so decode from the manifest is
bit-identical to decode from the in-memory fit.

The index is the RESIDUAL variant (ann_ivfpq_residual_topk, #172 —
true-FAISS: codebooks quantize vector minus its coarse centroid);
``search_ivfpq_index`` replays #172's scoring expressions operand for
operand, so search-from-artifacts is row-identical to the inline query
(pinned in tests/test_vector_index.py and driver-oracled via
ann_ivfpq_search_persisted against the same SQL as #172).

Incremental add (the FAISS ``add()`` contract): new vectors are
assigned to the FROZEN coarse centroids and encoded against the FROZEN
codebooks — no refit, codes append to the codes/ parquet. Correctness
pinned against a brute numpy replay of assign+encode.

Scale shape: centroids + codebooks are KB-sized (broadcast at search);
codes/ is the only corpus-sized artifact (m bytes-ish per vector,
16x smaller than floats) and both search and add stream it — nothing
corpus-sized ever reaches the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from utility_service_areas_spark.operators.localrel import local_df
from utility_service_areas_spark.sources import fsutil

_FORMAT_VERSION = 2


def _write_codes_segment(
    spark: SparkSession, index_dir: str, codes: DataFrame, m: int
) -> dict | None:
    """Stage a codes frame as ONE immutable segment; atomic rename.
    Returns {name, n_vectors} or None for an empty frame. Columns are
    normalized to build order (neighbor_id, code_*, cell) so a
    multi-segment read never sees mixed per-file orders. The segment
    is INVISIBLE until the caller commits a manifest listing it."""

    def write(staged: str) -> dict | None:
        codes.select(
            "neighbor_id", *[f"code_{s}" for s in range(m)], "cell"
        ).write.mode("overwrite").parquet(staged)
        n = spark.read.parquet(staged).count()
        return {"n_vectors": int(n)} if n else None

    return fsutil.stage_segment(index_dir, write)


def build_ivfpq_index(
    emb: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 32,
    n_iter: int = 2,
    dim: int = 64,
    n_centroids: int = 16,
    centroid_stride: int = 37,
) -> dict:
    """Fit + persist the IVFPQ index; returns the manifest dict.

    The construction is ann_ivfpq_residual_topk's corpus side verbatim
    (plans/ann_queries.py:1504): ivf_centroids -> top-1 coarse assign
    -> residual subtract -> pq_encode over residuals.
    """
    from utility_service_areas_spark.operators.ann import (
        ivf_assignments,
        ivf_centroids,
        pq_encode,
    )
    from utility_service_areas_spark.operators.dedup import lineage_cut

    cents = ivf_centroids(emb, id_col, vec_col, n_centroids, centroid_stride)
    cellcent = cents.select(F.col("cent_id").alias("cell"), "cent_vec")
    c_asg, _unused_q = ivf_assignments(
        emb,
        emb.limit(0),
        id_col,
        vec_col,
        n_centroids=n_centroids,
        centroid_stride=centroid_stride,
    )
    resid = lineage_cut(  # consumed by the m fits, encode, and the cell join
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
        resid, "neighbor_id", "rvec", m=m, k=k, n_iter=n_iter, expected_dim=dim
    )
    codes_with_cell = codes.select(
        F.col("id").alias("neighbor_id"), *[f"code_{s}" for s in range(m)]
    ).join(resid.select("neighbor_id", "cell"), "neighbor_id")

    os.makedirs(index_dir, exist_ok=True)
    spark = emb.sparkSession
    cents.write.mode("overwrite").parquet(os.path.join(index_dir, "centroids"))
    # counting the WRITTEN parquet, not the lineage — counting
    # codes_with_cell re-ran the whole assign/residual/encode pipeline
    # a second time (r13 code review #6); _write_codes_segment counts
    # its staged parquet for the same reason
    seg = _write_codes_segment(spark, index_dir, codes_with_cell, m)
    manifest = {
        "format_version": _FORMAT_VERSION,
        "kind": "ivfpq_residual",
        "m": m,
        "k": k,
        "n_iter": n_iter,
        "dim": dim,
        "n_centroids": n_centroids,
        "centroid_stride": centroid_stride,
        "codebooks": [[list(map(float, c)) for c in books[s]] for s in range(m)],
        "segments": [seg] if seg else [],
        "n_vectors": seg["n_vectors"] if seg else 0,
        "n_adds": 0,
        "txn_ids": [],
    }
    # commit marker, LAST
    return fsutil.commit_overwrite(index_dir, manifest)


def load_ivfpq_index(
    spark: SparkSession, index_dir: str
) -> tuple[dict, DataFrame, DataFrame]:
    """(manifest, centroids frame, codes frame). Raises
    FileNotFoundError if the index was never committed (no manifest —
    a crashed build's partial parquet is invisible by contract)."""
    manifest = fsutil.load_manifest(index_dir, _FORMAT_VERSION)
    cents = spark.read.parquet(os.path.join(index_dir, "centroids"))
    codes = _read_codes(spark, index_dir, manifest)
    return manifest, cents, codes


def _read_codes(
    spark: SparkSession, index_dir: str, manifest: dict
) -> DataFrame:
    """Union of the COMMITTED segments only (unlisted dirs are
    invisible by contract); column order normalized to build order."""
    m = manifest["m"]
    cols = ["neighbor_id", *[f"code_{s}" for s in range(m)], "cell"]
    segs = manifest["segments"]
    if not segs:
        schema = ", ".join(f"{c} bigint" for c in cols)
        return local_df(spark, [], schema)
    paths = [
        os.path.join(fsutil.segments_root(index_dir), s["name"]) for s in segs
    ]
    return spark.read.parquet(*paths).select(*cols)


def add_to_ivfpq_index(
    spark: SparkSession,
    index_dir: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    txn_id: str | None = None,
) -> dict:
    """FAISS ``add()``: encode a new vector batch against the FROZEN
    coarse centroids and codebooks (no refit — the codebooks' geometry
    is the index's identity; refitting would invalidate every existing
    code), commit the codes as ONE atomic segment, bump the manifest
    additively (O(batch), never recounting the store). Returns the
    updated manifest.

    ``txn_id``: exactly-once across retries — an id already recorded
    in the manifest makes the whole call a no-op (the S39 posture;
    dedup horizon = manifest lifetime). A crash between the segment
    rename and the manifest commit leaves an UNLISTED (invisible)
    segment, so the retry lands the batch exactly once; the orphan is
    reclaimed later by ``fsutil.vacuum_index``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from utility_service_areas_spark.operators.ann import dot_expr
    from utility_service_areas_spark.operators.kmeans import _np_assign

    manifest, cents, _codes = load_ivfpq_index(spark, index_dir)
    if txn_id is not None and txn_id in manifest.get("txn_ids", []):
        return manifest  # replayed batch: already committed, no-op
    m, dim = manifest["m"], manifest["dim"]
    sub = dim // m
    books = manifest["codebooks"]

    # Top-1 coarse assign — the same argmax expression as
    # ivf_assignments' JVM path (score desc, cent_id asc), against the
    # PERSISTED centroids.
    base = new_vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).filter(F.col("vec").isNotNull() & (F.size("vec") == dim))
    scored = base.crossJoin(F.broadcast(cents)).withColumn(
        "cent_score", dot_expr(F.col("vec"), F.col("cent_vec")) / F.col("cent_n")
    )
    assigned = scored.groupBy("neighbor_id").agg(
        F.any_value("vec").alias("vec"),
        F.max_by(
            F.col("cent_id"), F.struct(F.col("cent_score"), -F.col("cent_id"))
        ).alias("cell"),
    )
    resid = assigned.join(
        F.broadcast(cents.select(F.col("cent_id").alias("cell"), "cent_vec")),
        "cell",
    ).select(
        "neighbor_id",
        "cell",
        F.zip_with(
            "vec", "cent_vec", lambda a, b: a.cast("double") - b.cast("double")
        ).alias("rvec"),
    )

    schema = StructType(
        [StructField("neighbor_id", LongType()), StructField("cell", LongType())]
        + [StructField(f"code_{s}", LongType()) for s in range(m)]
    )
    books_np = [np.asarray(books[s], dtype=np.float64) for s in range(m)]

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["rvec"].to_numpy()).astype(np.float64)
            cols = {
                "neighbor_id": pdf["neighbor_id"].to_numpy(),
                "cell": pdf["cell"].to_numpy(),
            }
            for s in range(m):
                cl, _ = _np_assign(X[:, s * sub : (s + 1) * sub], books_np[s])
                cols[f"code_{s}"] = cl
            yield pd.DataFrame(cols)

    new_codes = resid.mapInPandas(encode, schema)
    seg = _write_codes_segment(spark, index_dir, new_codes, m)
    # Optimistic-concurrency commit (ADVICE r15): the segment is
    # staged once (codebooks are FROZEN, so a re-encode could never
    # differ); the manifest delta re-applies onto whatever manifest
    # wins each race, so two concurrent adds both land — neither's
    # segment is dropped by a last-replace-wins overwrite.
    for attempt in fsutil.commit_attempts(index_dir, "add"):
        if attempt:
            manifest = fsutil.read_manifest(index_dir)  # deltas never double
        if txn_id is not None and txn_id in manifest.get("txn_ids", []):
            return manifest  # a racer with the SAME txn landed it
        if seg is not None:
            manifest["segments"].append(seg)
            manifest["n_vectors"] += seg["n_vectors"]  # additive, O(batch)
        manifest["n_adds"] += 1
        if txn_id is not None:
            manifest.setdefault("txn_ids", []).append(txn_id)
        if fsutil.commit_manifest(index_dir, manifest):
            return manifest


def search_ivfpq_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    corpus: DataFrame,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    corpus_id_col: str = "vec_id",
    corpus_vec_col: str = "embedding",
    n_probe: int = 4,
    shortlist: int = 50,
    top_k: int = 10,
) -> DataFrame:
    """Answer a query batch from the persisted artifacts. Expression-
    for-expression the scoring path of ann_ivfpq_residual_topk
    (plans/ann_queries.py:1504) — decode re-adds the coarse centroid,
    ADC shortlist, exact refine against ``corpus`` (the index stores
    codes, not floats; refine reads the source-of-truth table, the
    IVFPQ+refine contract) — so results are row-identical to the
    inline query when built over the same corpus."""
    from utility_service_areas_spark.operators.ann import dot_expr

    manifest, cents, codes = load_ivfpq_index(spark, index_dir)
    m = manifest["m"]
    books = manifest["codebooks"]
    cellcent = cents.select(F.col("cent_id").alias("cell"), "cent_vec")

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qvec"),
    ).withColumn("q_n", F.sqrt(dot_expr(F.col("qvec"), F.col("qvec"))))

    # query -> n_probe cells (ivf_assignments' multi-probe expression)
    q_scored = q.crossJoin(F.broadcast(cents)).withColumn(
        "cent_score",
        dot_expr(F.col("qvec"), F.col("cent_vec")) / F.col("cent_n"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cent_score").desc(), F.col("cent_id").asc()
    )
    q_asg = (
        q_scored.withColumn("cell_rank", F.row_number().over(wq))
        .filter(F.col("cell_rank") <= n_probe)
        .select("query_id", F.col("cent_id").alias("cell"))
    )

    # decode: codebook literals (from the manifest — bit-identical to
    # the fit) + coarse-centroid re-add (reconstruction)
    book_lits = [
        F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in books[s]])
        for s in range(m)
    ]
    rdvec = F.concat(
        *[
            F.element_at(book_lits[s], (F.col(f"code_{s}") + 1).cast("int"))
            for s in range(m)
        ]
    )
    rec = (
        codes.withColumn("rdvec", rdvec)
        .join(F.broadcast(cellcent), "cell")
        .select(
            "neighbor_id",
            F.zip_with(
                "cent_vec", "rdvec", lambda a, b: a.cast("double") + b
            ).alias("dvec"),
        )
        .withColumn("d_n", F.sqrt(dot_expr(F.col("dvec"), F.col("dvec"))))
    )

    cand = (
        codes.select("neighbor_id", "cell")
        .join(F.broadcast(q_asg), "cell")
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
    short = (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    exact_side = corpus.select(
        F.col(corpus_id_col).alias("neighbor_id"),
        F.col(corpus_vec_col).alias("cvec"),
    ).withColumn("c_n", F.sqrt(dot_expr(F.col("cvec"), F.col("cvec"))))
    rer = (
        exact_side.join(F.broadcast(short), "neighbor_id")
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
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "rank", "sim_micros")
    )
