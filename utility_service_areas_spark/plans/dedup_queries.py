"""SURVEY.md §2.4 — deduplication queries on the documents table.

Oracle notes: shingling / MinHash / Jaccard are mirrored exactly in
DuckDB SQL (same tokenizer regex, same seeded-md5 min-hash, same
df-cap) — the SQL is the specification, the Spark plan is the scale
implementation. Even SimHash's bit-vote accumulation (an Arrow UDF on
the Spark side) is mirrored in SQL via per-bit vote sums, so every
dedup query here is hash-verified by the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from utility_service_areas_spark.operators.dedup import (
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_candidate_pairs,
)
from utility_service_areas_spark.plans.registry import query
from utility_service_areas_spark.sources.tables import load_table
from utility_service_areas_spark.operators.localrel import local_df

# Shared SQL fragments (DuckDB) mirroring functions/textops.py.
_TOKS_SQL = r"string_split_regex(trim(text, ' '), '[ \t\n\x0b\f\r]+')"
_SHINGLES_CTE = f"""
    toks AS (SELECT doc_id, {_TOKS_SQL} AS tok FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(tok) >= 3
                  THEN list_distinct([tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]
                                      for i in generate_series(1, len(tok)-2)])
                  ELSE [] END AS shingles
      FROM toks),
    ex AS (SELECT doc_id AS doc, unnest(shingles) AS s FROM sh)
"""


@query(
    "dedup_exact_docs",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')) AS text_hash,
           min(doc_id) AS keeper_id,
           count(*) AS n_dups
    FROM documents
    GROUP BY text_hash
    """,
    doc="Exact dedup groups on normalized text; hash-groupBy, one shuffle.",
    tags=("dedup",),
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    capped AS (
      SELECT doc, s FROM ex
      WHERE s IN (SELECT s FROM ex GROUP BY s HAVING count(*) <= 100)),
    sizes AS (SELECT doc, count(*) AS n_sh FROM capped GROUP BY doc),
    common AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
      FROM capped a JOIN capped b ON a.s = b.s AND a.doc < b.doc
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           CAST(round(n_common * 1000000.0 / (x.n_sh + y.n_sh - n_common)) AS BIGINT)
               AS jaccard_micros
    FROM common
    JOIN sizes x ON doc_a = x.doc
    JOIN sizes y ON doc_b = y.doc
    WHERE n_common * 1.0 / (x.n_sh + y.n_sh - n_common) >= 0.2
    """,
    doc="Word-3-gram Jaccard near-dup pairs; pair generation bucketed by "
    "shared shingle with a document-frequency cap (the 100 TB lever: no "
    "quadratic buckets from ultra-common shingles).",
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.2, df_cap=100)


def _minhash_sig_sql(n_hashes: int = 8) -> str:
    mins = ",\n             ".join(
        f"min(md5('{i}:' || s)) AS h{i}" for i in range(n_hashes)
    )
    return f"sig AS (SELECT doc, {mins} FROM ex GROUP BY doc)"


def _bands_sql(n_bands: int = 4, band_size: int = 2) -> str:
    selects = [
        f"SELECT doc, {i} AS band_idx, md5(h{i*band_size} || h{i*band_size+1}) AS band_hash FROM sig"
        for i in range(n_bands)
    ]
    return "bands AS (" + " UNION ALL ".join(selects) + ")"


def _lsh_pairs_sql(name: str, bucket_cap: int = 100) -> str:
    """Candidate-pair CTE mirroring lsh_candidate_pairs' bucket cap:
    buckets ≤ cap yield all pairs; over-cap buckets yield star pairs
    from the min-doc keeper (O(B), connectivity-preserving)."""
    return f"""
    bsz AS (
      SELECT band_idx, band_hash, count(*) AS n, min(doc) AS keeper
      FROM bands GROUP BY 1, 2),
    {name} AS (
      SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc AS doc_a, b.doc AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
                    AND a.doc < b.doc
        JOIN bsz s ON a.band_idx = s.band_idx AND a.band_hash = s.band_hash
        WHERE s.n <= {bucket_cap}
        UNION ALL
        SELECT s.keeper AS doc_a, b.doc AS doc_b
        FROM bands b
        JOIN bsz s ON b.band_idx = s.band_idx AND b.band_hash = s.band_hash
        WHERE s.n > {bucket_cap} AND b.doc <> s.keeper) u)
    """


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_minhash_sig_sql()},
    {_bands_sql()},
    {_lsh_pairs_sql("pairs")}
    SELECT doc_a, doc_b,
           CAST((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT + (sa.h2 = sb.h2)::INT
              + (sa.h3 = sb.h3)::INT + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT
              + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT AS BIGINT)
               AS n_matching_minhashes
    FROM pairs JOIN sig sa ON doc_a = sa.doc JOIN sig sb ON doc_b = sb.doc
    """,
    doc="MinHash (8 seeded-md5 hashes, JVM-side) + banded LSH (4 bands × 2): "
    "candidate pairs share a band bucket; similarity estimated from full "
    "signatures. The shuffle is on band_hash — near-linear candidates. "
    "Band buckets over the frequency cap (100) emit O(B) star pairs "
    "instead of O(B²) combinations (counted BEFORE collect_list).",
    tags=("dedup",),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=8)
    return lsh_candidate_pairs(sig, n_hashes=8, band_size=2)


# #50's oracle: transitive closure over the scored pairs. Its edge
# list (and the keep-best oracles' below) is MATERIALIZED: DuckDB inlines a plain
# CTE per reference, so the recursive step would replay the minhash and
# LSH chain on every iteration (measured 6.0 s -> 1.6 s at sf0.001).
_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_minhash_sig_sql()},
    {_bands_sql()},
    {_lsh_pairs_sql("cand")},
    scored AS (
      SELECT doc_a, doc_b
      FROM cand JOIN sig sa ON doc_a = sa.doc JOIN sig sb ON doc_b = sb.doc
      WHERE (sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT + (sa.h2 = sb.h2)::INT
          + (sa.h3 = sb.h3)::INT + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT
          + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT >= 6),
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM scored
      UNION ALL SELECT doc_b, doc_a FROM scored),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (SELECT a AS node, min(b) AS comp FROM reach GROUP BY a)
    SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS keeper_id,
           count(*) OVER (PARTITION BY coalesce(c.comp, d.doc_id)) AS cluster_size
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """


@query(
    "dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    doc="Dedup resolution end-to-end: MinHash-LSH candidate pairs → "
    "connected components (iterative min-label propagation, "
    "localCheckpoint per round) → every doc mapped to its cluster "
    "keeper — the dedup endgame: a keep/drop decision per row.",
    tags=("dedup", "graph"),
)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=8)
    pairs = lsh_candidate_pairs(sig, n_hashes=8, band_size=2).filter(
        "n_matching_minhashes >= 6"
    )
    return dedup_clusters(pairs, docs, "doc_id")




# The simhash signature replay (docstring of dedup_simhash documents
# the UBIGINT/HUGEINT two's-complement dance) — shared by the
# candidate query above and the hamming-histogram calibration below.
_SIMHASH_SSIG_CTES = r"""
    toks AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(trim(lower(text), ' '), '[ \t\n\x0b\f\r]+')) AS tok
      FROM documents),
    th AS (
      SELECT doc, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
      FROM toks WHERE tok <> ''),
    bits AS (
      SELECT doc, b,
             sum(((h >> b) & 1)::BIGINT) AS ones,
             count(*) AS n
      FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bs
      GROUP BY doc, b),
    usig AS (
      SELECT doc,
             sum(CASE WHEN 2 * ones > n THEN (1::UBIGINT << b)::HUGEINT ELSE 0 END) AS u
      FROM bits GROUP BY doc),
    ssig AS (
      SELECT d.doc_id AS doc,
             coalesce(u.u, 0) AS u,
             CAST(CASE WHEN coalesce(u.u, 0) >= 9223372036854775808::HUGEINT
                       THEN coalesce(u.u, 0) - 18446744073709551616::HUGEINT
                       ELSE coalesce(u.u, 0) END AS BIGINT) AS sim
      FROM documents d LEFT JOIN usig u ON d.doc_id = u.doc)
"""


@query(
    "dedup_simhash",
    # Mirrors the UDF kernel bit-for-bit in SQL: same md5-top-8-byte
    # token hash, same bit-vote majority (2*ones > n), same 16-bit
    # bands, same hamming cut — the UBIGINT/HUGEINT dance reproduces
    # the signed-int64 signature two's complement exactly.
    oracle=f"""
    WITH {_SIMHASH_SSIG_CTES},
    bands AS (
      SELECT doc, i AS band_idx, (u >> (16 * i)) & 65535 AS band_val
      FROM ssig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) ii),
    bsz AS (
      SELECT band_idx, band_val, count(*) AS n, min(doc) AS keeper
      FROM bands GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc AS doc_a, b.doc AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                    AND a.doc < b.doc
        JOIN bsz s ON a.band_idx = s.band_idx AND a.band_val = s.band_val
        WHERE s.n <= 100
        UNION ALL
        SELECT s.keeper AS doc_a, b.doc AS doc_b
        FROM bands b
        JOIN bsz s ON b.band_idx = s.band_idx AND b.band_val = s.band_val
        WHERE s.n > 100 AND b.doc <> s.keeper) u)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa.sim, sb.sim)) AS INT) AS hamming
    FROM cand JOIN ssig sa ON doc_a = sa.doc JOIN ssig sb ON doc_b = sb.doc
    WHERE bit_count(xor(sa.sim, sb.sim)) <= 8
    """,
    doc="SimHash-64 near-dup candidates: Arrow-batched signature UDF, "
    "16-bit-band bucketing, exact hamming verify ≤ 8; over-cap band "
    "buckets emit star pairs (same cap pattern as MinHash-LSH).",
    tags=("dedup",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidate_pairs(docs, "doc_id", "text", max_hamming=8)


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_minhash_sig_sql()},
    {_bands_sql()},
    {_lsh_pairs_sql("cand")},
    scored AS (
      SELECT doc_a, doc_b
      FROM cand JOIN sig sa ON doc_a = sa.doc JOIN sig sb ON doc_b = sb.doc
      WHERE (sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT + (sa.h2 = sb.h2)::INT
          + (sa.h3 = sb.h3)::INT + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT
          + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT >= 6),
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM scored
      UNION ALL SELECT doc_b, doc_a FROM scored),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (SELECT a AS node, min(b) AS comp FROM reach GROUP BY a),
    member AS (
      SELECT d.doc_id, d.n_chars,
             coalesce(c.comp, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
    best AS (
      SELECT cluster_id, doc_id AS best_id
      FROM member
      QUALIFY row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY n_chars DESC, doc_id ASC) = 1)
    SELECT m.doc_id, m.cluster_id, b.best_id,
           CAST(m.doc_id = b.best_id AS BIGINT) AS kept
    FROM member m JOIN best b USING (cluster_id)
    """,
    doc="The dedup ENDGAME with canonical selection: MinHash-LSH "
    "candidates → connected components → per cluster keep the most "
    "complete member (max n_chars, min doc_id tiebreak) instead of "
    "the arbitrary min-id keeper — what a curation pipeline actually "
    "ships (drop rows where kept = 0). Cluster assignment reuses the "
    "iterative min-label propagation operator (checkpointed pointer "
    "jumping); the canonical pick is one max_by aggregate on the "
    "cluster key — no window sort, partial-aggregatable, skew-bounded "
    "by the largest near-dup cluster. Oracle mirrors the whole chain "
    "including a recursive-CTE transitive closure.",
    tags=("dedup", "graph", "pipeline"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from utility_service_areas_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=8)
    pairs = lsh_candidate_pairs(sig, n_hashes=8, band_size=2).filter(
        "n_matching_minhashes >= 6"
    )
    member = (
        dedup_clusters(pairs, docs, "doc_id")
        .withColumnRenamed("keeper_id", "cluster_id")
        .join(docs.select("doc_id", "n_chars"), "doc_id")
    )
    best = member.groupBy("cluster_id").agg(
        F.max_by(
            F.col("doc_id"), F.struct(F.col("n_chars"), -F.col("doc_id"))
        ).alias("best_id")
    )
    return (
        member.join(best, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "best_id",
            (F.col("doc_id") == F.col("best_id")).cast("long").alias("kept"),
        )
    )


_QUALITY_Q_SQL = f"""
      SELECT doc_id,
             CAST(floor((0.4 * (alpha / chars)
                       + 0.3 * least(1.0, n_tok / 100.0)
                       + 0.3 * (n_distinct / greatest(n_tok, 1.0))) * 1000000 + 0.5)
                  AS BIGINT) AS quality_micros
      FROM (
        SELECT doc_id,
               CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                    AS DOUBLE) AS alpha,
               CAST(greatest(length(text), 1) AS DOUBLE) AS chars,
               CAST(len({_TOKS_SQL}) AS DOUBLE) AS n_tok,
               CAST(len(list_distinct({_TOKS_SQL})) AS DOUBLE) AS n_distinct
        FROM documents)
"""


@query(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_minhash_sig_sql()},
    {_bands_sql()},
    {_lsh_pairs_sql("cand")},
    scored AS (
      SELECT doc_a, doc_b
      FROM cand JOIN sig sa ON doc_a = sa.doc JOIN sig sb ON doc_b = sb.doc
      WHERE (sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT + (sa.h2 = sb.h2)::INT
          + (sa.h3 = sb.h3)::INT + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT
          + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT >= 6),
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM scored
      UNION ALL SELECT doc_b, doc_a FROM scored),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (SELECT a AS node, min(b) AS comp FROM reach GROUP BY a),
    qual AS ({_QUALITY_Q_SQL}),
    member AS (
      SELECT q.doc_id, q.quality_micros,
             coalesce(c.comp, q.doc_id) AS cluster_id
      FROM qual q LEFT JOIN comp c ON q.doc_id = c.node),
    best AS (
      SELECT cluster_id, doc_id AS best_id
      FROM member
      QUALIFY row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY quality_micros DESC, doc_id ASC) = 1)
    SELECT m.doc_id, m.quality_micros, m.cluster_id, b.best_id,
           CAST(m.doc_id = b.best_id AS BIGINT) AS kept
    FROM member m JOIN best b USING (cluster_id)
    """,
    doc="Quality-weighted canonical selection (VERDICT r6 task 5): the "
    "same MinHash-LSH → connected-components clusters as "
    "dedup_keep_best, but each cluster keeps its highest "
    "quality_micros member (doc_id tiebreak) — what a curation "
    "pipeline ships when completeness (n_chars) is not the right "
    "proxy. Ranking stays a single partial-aggregatable max_by on "
    "the cluster key; the per-doc quality score is map-side codegen, "
    "so the variant costs one extra projection over the n_chars one.",
    tags=("dedup", "graph", "pipeline"),
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from utility_service_areas_spark.operators.graph import dedup_clusters
    from utility_service_areas_spark.operators.text import quality_score_micros

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=8)
    pairs = lsh_candidate_pairs(sig, n_hashes=8, band_size=2).filter(
        "n_matching_minhashes >= 6"
    )
    member = (
        dedup_clusters(pairs, docs, "doc_id")
        .withColumnRenamed("keeper_id", "cluster_id")
        .join(
            docs.select(
                "doc_id", quality_score_micros(F.col("text")).alias("quality_micros")
            ),
            "doc_id",
        )
    )
    best = member.groupBy("cluster_id").agg(
        F.max_by(
            F.col("doc_id"), F.struct(F.col("quality_micros"), -F.col("doc_id"))
        ).alias("best_id")
    )
    return member.join(best, "cluster_id").select(
        "doc_id",
        "quality_micros",
        "cluster_id",
        "best_id",
        (F.col("doc_id") == F.col("best_id")).cast("long").alias("kept"),
    )


@query(
    "dedup_minhash_verified",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_minhash_sig_sql()},
    {_bands_sql()},
    {_lsh_pairs_sql("cand")},
    est AS (
      SELECT doc_a, doc_b,
             CAST((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT
                + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT
                + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT
                + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT AS BIGINT)
                 AS n_matching_minhashes
      FROM cand JOIN sig sa ON doc_a = sa.doc JOIN sig sb ON doc_b = sb.doc),
    sizes AS (SELECT doc, count(*) AS n FROM ex GROUP BY doc),
    common AS (
      SELECT e.doc_a, e.doc_b, e.n_matching_minhashes, count(*) AS n_common
      FROM est e
      JOIN ex a ON a.doc = e.doc_a
      JOIN ex b ON b.doc = e.doc_b AND b.s = a.s
      GROUP BY 1, 2, 3)
    SELECT doc_a, doc_b, n_matching_minhashes,
           CAST(floor((n_common * 1.0 / (sa.n + sb.n - n_common))
                      * 1000000 + 0.5) AS BIGINT) AS jaccard_micros
    FROM common
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
    """,
    doc="The production dedup composition: banded-LSH candidates "
    "(near-linear), then EXACT Jaccard verification only over "
    "candidate docs — the exploded shingle stream is semi-join "
    "filtered to candidate members before the pair-shingle join, so "
    "verify cost tracks candidate volume, not corpus volume. Emits "
    "pairs with true Jaccard ≥ 0.5 plus the minhash estimate that "
    "proposed them.",
    tags=("dedup", "pipeline"),
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.dedup import minhash_verified_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_verified_pairs(docs, "doc_id", "text", threshold=0.5)


@query(
    "dedup_incremental_ingest",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_minhash_sig_sql()},
    {_bands_sql()},
    osz AS (
      SELECT band_idx, band_hash,
             count(*) FILTER (doc % 10 <> 7) AS old_n
      FROM bands GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT nb.doc AS new_doc, ob.doc AS old_doc
      FROM bands nb
      JOIN bands ob USING (band_idx, band_hash)
      JOIN osz USING (band_idx, band_hash)
      WHERE nb.doc % 10 = 7 AND ob.doc % 10 <> 7 AND osz.old_n <= 100),
    est AS (
      SELECT new_doc, old_doc,
             CAST((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT
                + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT
                + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT
                + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT AS BIGINT) AS m
      FROM cand JOIN sig sa ON new_doc = sa.doc JOIN sig sb ON old_doc = sb.doc)
    SELECT d.doc_id AS new_doc_id,
           count(e.old_doc) AS n_candidates,
           CAST(coalesce(count(*) FILTER (e.m >= 6), 0) AS BIGINT) AS n_dups,
           min(e.old_doc) FILTER (e.m >= 6) AS min_dup_old_id,
           max(e.m) AS max_matching
    FROM documents d LEFT JOIN est e ON d.doc_id = e.new_doc
    WHERE d.doc_id % 10 = 7
    GROUP BY d.doc_id
    """,
    doc="Incremental-ingest dedup — the production shape for a corpus "
    "that grows in batches: the NEW batch (doc_id % 10 = 7, ~10%) is "
    "banded against the EXISTING corpus only (asymmetric LSH join — "
    "no old×old pairs ever form), flagging each new doc with its "
    "near-dup candidates among what's already ingested. Over-cap OLD "
    "band buckets (stop-word-grade bands, >100 members) are dropped — "
    "a real dup still flags via its other bands. At 100 TB the old "
    "side's band frame is the precomputed signature index on disk; "
    "per batch you shuffle only the batch's bands plus matched "
    "buckets.",
    tags=("dedup", "pipeline"),
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from utility_service_areas_spark.operators.dedup import (
        minhash_bands,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=8).cache()
    bands = minhash_bands(sig, n_hashes=8, band_size=2)
    is_new = F.col("doc") % 10 == 7
    old_sz = (
        bands.filter(~is_new)
        .groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("old_n"))
    )
    cand = (
        bands.filter(is_new)
        .withColumnRenamed("doc", "new_doc")
        .join(
            bands.filter(~is_new).withColumnRenamed("doc", "old_doc"),
            ["band_idx", "band_hash"],
        )
        .join(old_sz.filter(F.col("old_n") <= 100), ["band_idx", "band_hash"])
        .select("new_doc", "old_doc")
        .distinct()
    )
    m = sum(
        (F.col(f"a.h{i}") == F.col(f"b.h{i}")).cast("int") for i in range(8)
    ).cast("long")
    est = (
        cand.join(sig.alias("a"), cand.new_doc == F.col("a.doc"))
        .join(sig.alias("b"), cand.old_doc == F.col("b.doc"))
        .select("new_doc", "old_doc", m.alias("m"))
    )
    new_docs = docs.filter(F.col("doc_id") % 10 == 7).select("doc_id")
    return (
        new_docs.join(est, new_docs.doc_id == est.new_doc, "left")
        .groupBy("doc_id")
        .agg(
            F.count("old_doc").alias("n_candidates"),
            F.coalesce(
                F.count(F.when(F.col("m") >= 6, F.lit(1))), F.lit(0)
            ).cast("long").alias("n_dups"),
            F.min(F.when(F.col("m") >= 6, F.col("old_doc"))).alias(
                "min_dup_old_id"
            ),
            F.max("m").alias("max_matching"),
        )
        .withColumnRenamed("doc_id", "new_doc_id")
    )


_SNIP_OFF = 10_000_000  # synthetic snippet ids live far above real doc ids


@query(
    "dedup_quote_containment",
    # The substrate has no natural containment pairs (verified r8: over
    # ALL shingle-sharing pairs, zero have containment >= 0.8 with
    # J < 0.5), so — like text_redact_pii's synthetic PII — quote
    # snippets are synthesized deterministically: every doc_id % 7 == 2
    # with >= 50 tokens contributes its 20-token prefix as a snippet
    # doc. The operator must then recover exactly the snippet→source
    # pairs, which symmetric Jaccard misses by construction
    # (J = 18/(n_src) < 0.4 for every synthesized pair).
    oracle=f"""
    WITH docs2 AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_SNIP_OFF},
             array_to_string(list_slice(tok, 1, 20), ' ') AS text
      FROM (SELECT doc_id, {_TOKS_SQL} AS tok FROM documents)
      WHERE doc_id % 7 = 2 AND len(tok) >= 50),
    toks2 AS (SELECT doc_id,
                     string_split_regex(trim(text, ' '),
                                        '[ \t\n\x0b\f\r]+') AS tok
              FROM docs2),
    sh2 AS (
      SELECT doc_id,
             CASE WHEN len(tok) >= 3
                  THEN list_distinct([tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]
                                      for i in generate_series(1, len(tok)-2)])
                  ELSE [] END AS shingles
      FROM toks2),
    ex2 AS (SELECT doc_id AS doc, unnest(shingles) AS s FROM sh2),
    capped AS (
      SELECT doc, s FROM ex2
      WHERE s IN (SELECT s FROM ex2 GROUP BY s HAVING count(*) <= 100)),
    sizes AS (SELECT doc, count(*) AS n FROM capped GROUP BY doc),
    common AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
      FROM capped a JOIN capped b ON a.s = b.s AND a.doc < b.doc
      GROUP BY 1, 2),
    scored AS (
      SELECT doc_a, doc_b, x.n AS n_a, y.n AS n_b, n_common
      FROM common JOIN sizes x ON doc_a = x.doc JOIN sizes y ON doc_b = y.doc
      WHERE n_common * 1.0 / least(x.n, y.n) >= 0.8)
    SELECT CASE WHEN n_a <= n_b THEN doc_a ELSE doc_b END AS contained_id,
           CASE WHEN n_a <= n_b THEN doc_b ELSE doc_a END AS container_id,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(floor(n_common * 1.0 / least(n_a, n_b) * 1000000 + 0.5)
                AS BIGINT) AS containment_micros,
           CAST(floor(n_common * 1.0 / (n_a + n_b - n_common) * 1000000 + 0.5)
                AS BIGINT) AS jaccard_micros
    FROM scored
    WHERE n_common * 1.0 / (n_a + n_b - n_common) < 0.5
    """,
    doc="Quote/boilerplate containment detection: asymmetric "
    "|A∩B|/min(|A|,|B|) over 3-shingle sets flags documents whose "
    "content is wholly carried by a longer document — the dedup "
    "signal symmetric Jaccard structurally misses (a 20-token quote "
    "in a 500-token article has J≈0.04). Synthetic snippet docs "
    "(20-token prefixes of every 7th doc) are planted "
    "deterministically since the substrate has no natural quotes; "
    "the J < 0.5 output filter isolates TRUE containment from plain "
    "near-duplication (those pairs are dedup_minhash_verified's "
    "job). Same df-capped shingle-bucket pair shape as "
    "dedup_ngram_jaccard, minus the size-ratio prefilter — which is "
    "exactly wrong for containment (operators/dedup.py:"
    "containment_pairs).",
    tags=("dedup", "pipeline"),
)
def dedup_quote_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from utility_service_areas_spark.functions.textops import tokens
    from utility_service_areas_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = tokens(F.col("text"))
    snippets = (
        docs.filter((F.col("doc_id") % 7 == 2) & (F.size(tok) >= 50))
        .select(
            (F.col("doc_id") + _SNIP_OFF).alias("doc_id"),
            F.array_join(F.slice(tok, 1, 20), " ").alias("text"),
        )
    )
    corpus = docs.unionByName(snippets)
    pairs = containment_pairs(corpus, "doc_id", "text", c_threshold=0.8)
    j = F.col("jaccard_micros")
    return pairs.filter(j < 500_000)


# The verified edge list and its undirected twin are MATERIALIZED in
# both graph oracles below: DuckDB inlines a plain CTE per reference,
# and the triangle self-joins would otherwise replay the whole minhash
# and LSH chain once per reference (measured 21 s -> 0.5 s at sf0.001).
@query(
    "dedup_graph_triangles",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_minhash_sig_sql()},
    {_bands_sql()},
    {_lsh_pairs_sql("cand")},
    e AS MATERIALIZED (
      SELECT doc_a, doc_b FROM cand
      JOIN sig sa ON doc_a = sa.doc JOIN sig sb ON doc_b = sb.doc
      WHERE (sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT + (sa.h2 = sb.h2)::INT
          + (sa.h3 = sb.h3)::INT + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT
          + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT >= 6),
    und AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM e
            UNION SELECT doc_b, doc_a FROM e),
    deg AS (SELECT u AS node, count(*) AS d FROM und GROUP BY 1),
    o AS (
      SELECT u, v FROM und
      JOIN deg da ON u = da.node JOIN deg db ON v = db.node
      WHERE da.d < db.d OR (da.d = db.d AND u < v)),
    tri AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM o e1 JOIN o e2 ON e1.v = e2.u JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([x, y, z]) AS node FROM tri)
    GROUP BY node
    """,
    doc="Per-doc triangle counts over the verified near-dup graph "
    "(LSH candidates with >= 6/8 matching minhashes) — the cluster "
    "DENSITY signal: a doc in many triangles sits in a true clique "
    "of mutual near-dups (template spam), one in zero triangles "
    "chains through weak links (CC would still merge them; triangle "
    "count tells curation which clusters are safe to collapse "
    "aggressively). Edges oriented by (degree, id) so each triangle "
    "forms once and 2-path fan-out is bounded away from hub nodes "
    "(Suri-Vassilvitskii shape) — see operators/graph.py:"
    "triangle_counts.",
    tags=("dedup", "graph"),
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.graph import triangle_counts

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=8)
    pairs = lsh_candidate_pairs(sig, n_hashes=8, band_size=2).filter(
        "n_matching_minhashes >= 6"
    )
    return triangle_counts(pairs)


@query(
    "dedup_cluster_density",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_minhash_sig_sql()},
    {_bands_sql()},
    {_lsh_pairs_sql("cand")},
    e AS MATERIALIZED (
      SELECT doc_a, doc_b FROM cand
      JOIN sig sa ON doc_a = sa.doc JOIN sig sb ON doc_b = sb.doc
      WHERE (sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT + (sa.h2 = sb.h2)::INT
          + (sa.h3 = sb.h3)::INT + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT
          + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT >= 6),
    und AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM e
            UNION SELECT doc_b, doc_a FROM e),
    reach(a, b) AS (
      SELECT u, u FROM und
      UNION
      SELECT r.a, e2.v FROM reach r JOIN und e2 ON r.b = e2.u),
    comp AS (SELECT a AS node, min(b) AS comp FROM reach GROUP BY a),
    deg AS (SELECT u AS node, count(*) AS d FROM und GROUP BY 1),
    per AS (
      SELECT c.comp, count(*) AS n_docs,
             CAST(sum(d) // 2 AS BIGINT) AS n_edges,
             CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
      FROM comp c JOIN deg USING (node) GROUP BY 1),
    o AS (
      SELECT u, v FROM und
      JOIN deg da ON u = da.node JOIN deg db ON v = db.node
      WHERE da.d < db.d OR (da.d = db.d AND u < v)),
    tri AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM o e1 JOIN o e2 ON e1.v = e2.u JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v),
    tc AS (SELECT c.comp, count(*) AS n_triangles
           FROM tri JOIN comp c ON tri.x = c.node GROUP BY 1)
    SELECT per.comp AS cluster_id,
           CAST(n_docs AS BIGINT) AS n_docs,
           n_edges,
           CAST(coalesce(n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(floor(2.0 * n_edges * 1000000 / (n_docs * (n_docs - 1)) + 0.5)
                AS BIGINT) AS edge_density_micros,
           CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(3.0 * coalesce(n_triangles, 0) * 1000000
                                / n_wedges + 0.5) AS BIGINT)
           END AS transitivity_micros
    FROM per LEFT JOIN tc ON per.comp = tc.comp
    """,
    doc="Per-CLUSTER density over the verified near-dup graph (the "
    "per-node twin is dedup_graph_triangles): one row per connected "
    "component with size, edge count, triangle count, edge density "
    "2E/(n(n-1)) and transitivity 3T/wedges. THE curation decision "
    "table: transitivity ≈ 1e6 marks a true template clique (collapse "
    "to one keeper, aggressively), ≈ 0 marks a chain of weak links "
    "(re-verify before dropping). Aggregating per cluster collapses a "
    "k-clique's k per-node rows to ONE — output volume tracks cluster "
    "count, not clique volume, so at 30× the clique-replica substrate "
    "this is the cheaper report (VERDICT r8 task 6; BENCH_TREND row). "
    "n_edges and wedges come from the degree frame alone (Σd = 2E); "
    "the triangle kernel is the shared (degree,id)-oriented "
    "Suri-Vassilvitskii shape — see operators/graph.py:"
    "cluster_density.",
    tags=("dedup", "graph"),
)
def dedup_cluster_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.graph import cluster_density

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=8)
    pairs = lsh_candidate_pairs(sig, n_hashes=8, band_size=2).filter(
        "n_matching_minhashes >= 6"
    )
    from utility_service_areas_spark.operators.spread import cpu_spread_width

    return cluster_density(
        pairs,
        width=cpu_spread_width(docs, spark.sparkContext.defaultParallelism),
    )


@query(
    "minhash_estimator_quality",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_minhash_sig_sql()},
    {_bands_sql()},
    {_lsh_pairs_sql("cand")},
    est AS (
      SELECT doc_a, doc_b,
             CAST((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT
                + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT
                + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT
                + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT AS BIGINT) AS m
      FROM cand JOIN sig sa ON doc_a = sa.doc JOIN sig sb ON doc_b = sb.doc),
    sizes AS (SELECT doc, count(*) AS n FROM ex GROUP BY doc),
    common AS (
      SELECT e.doc_a, e.doc_b, count(*) AS n_common
      FROM est e
      JOIN ex a ON a.doc = e.doc_a
      JOIN ex b ON b.doc = e.doc_b AND b.s = a.s
      GROUP BY 1, 2),
    judged AS (
      SELECT e.m,
             CASE WHEN coalesce(c.n_common, 0) * 1.0
                       / (sa.n + sb.n - coalesce(c.n_common, 0)) >= 0.5
                  THEN 1 ELSE 0 END AS is_true
      FROM est e
      LEFT JOIN common c ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
      JOIN sizes sa ON e.doc_a = sa.doc
      JOIN sizes sb ON e.doc_b = sb.doc)
    SELECT m AS n_matching_minhashes,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(is_true) AS BIGINT) AS n_true_dups,
           CAST(floor(sum(is_true) * 1000000.0 / count(*) + 0.5) AS BIGINT)
             AS true_rate_micros
    FROM judged GROUP BY m
    """,
    doc="LSH estimator calibration curve: for every candidate pair, "
    "bucket by the minhash match count m (0-8) and report how often "
    "the EXACT Jaccard (computed only over candidates, the verified-"
    "pairs shape) actually clears 0.5 — the table you read to pick "
    "the m-threshold and band geometry for a new corpus, instead of "
    "trusting m >= 6 on folklore. Same near-linear cost as "
    "dedup_minhash_verified (one extra 9-row agg).",
    tags=("dedup", "pipeline", "bench"),
)
def minhash_estimator_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.dedup import (
        lineage_cut,
        shingle_exploded,
    )

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=8)
    # `cand` is consumed FOUR times below (cand_docs ×2, common,
    # judged) and `ex` three times, with no Catalyst subtree reuse —
    # cut both once, exactly as minhash_verified_pairs does (64 → 3
    # scans in the executed plan; see BENCH_TREND r8).
    cand = lineage_cut(lsh_candidate_pairs(sig, n_hashes=8, band_size=2))
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc"))
        .union(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    ex = lineage_cut(
        shingle_exploded(docs, "doc_id", "text", k=3).join(
            cand_docs, "doc", "left_semi"
        )
    )
    sizes = ex.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    common = (
        cand.select("doc_a", "doc_b")
        .join(ex.select(F.col("doc").alias("doc_a"), "s"), "doc_a")
        .join(ex.select(F.col("doc").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    judged = (
        cand.join(common, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("n_b")),
            "doc_b",
        )
        .select(
            F.col("n_matching_minhashes").alias("m"),
            F.when(
                F.coalesce(F.col("n_common"), F.lit(0))
                * 1.0
                / (
                    F.col("n_a")
                    + F.col("n_b")
                    - F.coalesce(F.col("n_common"), F.lit(0))
                )
                >= 0.5,
                1,
            )
            .otherwise(0)
            .alias("is_true"),
        )
    )
    return judged.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("is_true").cast("long").alias("n_true_dups"),
        F.floor(
            F.sum("is_true") * 1_000_000.0 / F.count(F.lit(1)) + 0.5
        )
        .cast("long")
        .alias("true_rate_micros"),
    ).withColumnRenamed("m", "n_matching_minhashes")


_SIMHASH_HIST_STEP = 7919  # same prime-stride derangement sample as #132


@query(
    "simhash_hamming_histogram",
    oracle=f"""
    WITH {_SIMHASH_SSIG_CTES},
    m AS (SELECT max(doc_id) + 1 AS n FROM documents),
    p AS (
      SELECT a.sim AS sa, b.sim AS sb
      FROM ssig a, m, ssig b
      WHERE b.doc = (a.doc + {_SIMHASH_HIST_STEP}) % m.n
        AND a.doc != b.doc)
    SELECT CAST(bit_count(xor(sa, sb)) AS INT) AS hamming,
           count(*) AS n_pairs
    FROM p GROUP BY 1
    """,
    doc="SimHash background-similarity histogram — the threshold-"
    "calibration twin of embedding_pair_histogram (#132) for the bit "
    "domain: each doc pairs with the doc at id+7919 mod n (the same "
    "prime-stride content-independent sample), and the distribution "
    "of 64-bit signature hamming distances shows where corpus "
    "background sits, so dedup_simhash's max_hamming=8 cut can be "
    "read off the gap instead of guessed. The signature frame is "
    "lineage-cut (the Arrow-batched simhash UDF is the expensive "
    "pass; both join sides read the cut result, not the UDF twice). "
    "Scale shape: one equi-join on the derived partner id (linear, "
    "never a cross join), one 65-key partial agg.",
    tags=("dedup",),
)
def simhash_hamming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.functions.hashing import simhash64
    from utility_service_areas_spark.operators.dedup import lineage_cut

    docs = load_table(spark, sf_dir, "documents")
    sig = lineage_cut(
        docs.select(F.col("doc_id").alias("doc"), simhash64(F.col("text")).alias("sim"))
    )
    n = docs.agg((F.max("doc_id") + 1).alias("n"))
    left = (
        sig.join(F.broadcast(n))
        .withColumn("partner", (F.col("doc") + _SIMHASH_HIST_STEP) % F.col("n"))
        .filter(F.col("partner") != F.col("doc"))
        .select("partner", F.col("sim").alias("sa"))
    )
    right = sig.select(F.col("doc").alias("partner"), F.col("sim").alias("sb"))
    pairs = left.join(right, "partner")
    return pairs.groupBy(
        F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int").alias("hamming")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


_SWEEP_THRESHOLDS_MICROS = (200000, 400000, 600000, 800000)


@query(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    capped AS (
      SELECT doc, s FROM ex
      WHERE s IN (SELECT s FROM ex GROUP BY s HAVING count(*) <= 100)),
    sizes AS (SELECT doc, count(*) AS n_sh FROM capped GROUP BY doc),
    common AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
      FROM capped a JOIN capped b ON a.s = b.s AND a.doc < b.doc
      GROUP BY 1, 2),
    pairs AS (
      SELECT doc_a, doc_b,
             CAST(round(n_common * 1000000.0 / (x.n_sh + y.n_sh - n_common))
                  AS BIGINT) AS jaccard_micros
      FROM common
      JOIN sizes x ON doc_a = x.doc
      JOIN sizes y ON doc_b = y.doc
      WHERE n_common * 1.0 / (x.n_sh + y.n_sh - n_common) >= 0.2),
    t(threshold_micros) AS (VALUES {", ".join(f"({t})" for t in _SWEEP_THRESHOLDS_MICROS)})
    SELECT t.threshold_micros,
           CAST(count(p.doc_a) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT p.doc_b) AS BIGINT) AS n_docs_flagged
    FROM t LEFT JOIN pairs p ON p.jaccard_micros >= t.threshold_micros
    GROUP BY 1
    """,
    doc="Dedup threshold-calibration sweep: from ONE ngram-jaccard "
    "pair pass (the #27 chain, floor 0.2), how many pairs survive — "
    "and how many documents the pairwise min-keeper rule would flag "
    "— at each candidate threshold {{0.2, 0.4, 0.6, 0.8}}. The lever "
    "table a curation run reads before committing a dedup threshold "
    "to a 100 TB pass (the removal counts are the PAIRWISE bound; "
    "transitive-closure removal is #50/#165's job and is bounded "
    "below by these numbers). Scale shape: the expensive pair "
    "generation runs ONCE (lineage-cut); the sweep is a 4-row "
    "broadcast fan-out of the PAIR frame with a per-threshold "
    "count + distinct — never a corpus re-scan per threshold.",
    tags=("dedup", "pipeline"),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.dedup import lineage_cut

    docs = load_table(spark, sf_dir, "documents")
    pairs = lineage_cut(
        ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.2, df_cap=100)
    )
    t = local_df(spark, 
        [(x,) for x in _SWEEP_THRESHOLDS_MICROS], "threshold_micros long"
    )
    return (
        t.join(
            pairs, pairs.jaccard_micros >= t.threshold_micros, "left"
        )
        .groupBy("threshold_micros")
        .agg(
            F.count("doc_a").cast("long").alias("n_pairs"),
            F.countDistinct("doc_b").cast("long").alias("n_docs_flagged"),
        )
    )


# --- #235 b-bit minwise hashing tradeoff ------------------------------
# Li & Koenig 2010: storing only the lowest b bits of each minhash
# cuts signature memory 64/b x; a random b-bit collision inflates the
# match rate by (1-J)/2^b, and the UNBIASED estimator divides it out:
#   J_hat_b = (rate_b - 2^-b) / (1 - 2^-b)
#           = (m_b * 2^b - n_hashes) / (n_hashes * (2^b - 1))
# — a ratio of exact BIGINTs. bits=64 rows use the raw m/n_hashes
# estimator (the full-hash baseline; 2^-64 bias is below micros).
_BBIT_LEVELS = (1, 2, 4, 8)


def _bbit_oracle_sql() -> str:
    per_b = []
    for b in _BBIT_LEVELS:
        mod = 1 << b
        # signatures are md5 HEX STRINGS (min over shingles) — the
        # "lowest b bits" read the last hex byte through the integer
        # seam on both engines
        m_b = " + ".join(
            f"(('0x' || substr(sa.h{i}, 31, 2))::BIGINT % {mod} = "
            f"('0x' || substr(sb.h{i}, 31, 2))::BIGINT % {mod})::INT"
            for i in range(8)
        )
        per_b.append(
            f"""
      SELECT doc_a, doc_b, CAST({b} AS BIGINT) AS bits,
             CAST(({m_b}) * {mod} - 8 AS DOUBLE)
               / (8 * ({mod} - 1)) AS est
      FROM cand JOIN sig sa ON doc_a = sa.doc JOIN sig sb ON doc_b = sb.doc"""
        )
    m_full = " + ".join(f"(sa.h{i} = sb.h{i})::INT" for i in range(8))
    per_b.append(
        f"""
      SELECT doc_a, doc_b, CAST(64 AS BIGINT) AS bits,
             CAST(({m_full}) AS DOUBLE) / 8 AS est
      FROM cand JOIN sig sa ON doc_a = sa.doc JOIN sig sb ON doc_b = sb.doc"""
    )
    union = " UNION ALL ".join(per_b)
    sql = f"""
    WITH {_SHINGLES_CTE},
    {_minhash_sig_sql()},
    {_bands_sql()},
    {_lsh_pairs_sql("cand")},
    sizes AS (SELECT doc, count(*) AS n FROM ex GROUP BY doc),
    common AS (
      SELECT e.doc_a, e.doc_b, count(*) AS n_common
      FROM cand e
      JOIN ex a ON a.doc = e.doc_a
      JOIN ex b ON b.doc = e.doc_b AND b.s = a.s
      GROUP BY 1, 2),
    truth AS (
      SELECT c.doc_a, c.doc_b,
             CAST(coalesce(cm.n_common, 0) AS DOUBLE)
               / (sa.n + sb.n - coalesce(cm.n_common, 0)) AS j_true
      FROM cand c
      LEFT JOIN common cm ON c.doc_a = cm.doc_a AND c.doc_b = cm.doc_b
      JOIN sizes sa ON c.doc_a = sa.doc
      JOIN sizes sb ON c.doc_b = sb.doc),
    ests AS ({union}),
    errs AS (
      SELECT e.bits,
             CAST(floor(abs(e.est - t.j_true) * 1000000 + 0.5) AS BIGINT)
               AS err_micros
      FROM ests e JOIN truth t
        ON t.doc_a = e.doc_a AND t.doc_b = e.doc_b)
    SELECT bits,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(floor(sum(err_micros) * 1.0 / count(*) + 0.5) AS BIGINT)
             AS mean_abs_err_micros
    FROM errs GROUP BY bits"""
    # ex, sig and cand are each read by several branches, and DuckDB
    # inlines a plain CTE per reference: MATERIALIZE them (measured
    # 2.4 -> 0.15 s at sf0.001, same result).
    for cte in ("ex", "sig", "cand"):
        sql = sql.replace(f" {cte} AS (", f" {cte} AS MATERIALIZED (")
    return sql


@query(
    "minhash_bbit_tradeoff",
    oracle=_bbit_oracle_sql(),
    doc="b-bit minwise hashing tradeoff (Li & Koenig 2010 — the "
    "memory lever the sketch family lacked): keep only the lowest b "
    "bits of each minhash (64/b x smaller signatures) and divide out "
    "the random-collision inflation with the unbiased estimator "
    "J_hat = (rate - 2^-b)/(1 - 2^-b). For every LSH candidate pair "
    "(#162's machinery: same shingles, signatures, bands), the table "
    "reports mean |J_hat_b - J_exact| at b=1,2,4,8 vs the full-hash "
    "baseline (bits=64) — read it to pick the smallest b whose error "
    "is tolerable, the same lever-table shape as #203/#201/#205. "
    "Engine-exact: J_hat_b is a ratio of exact BIGINTs ((m*2^b - 8)/"
    "(8*(2^b-1))), J_exact a ratio of shingle counts, each pair's "
    "|error| quantized to micros BEFORE the integer mean. Cost: the "
    "near-linear verified-pairs shape + a 5-way map-side estimate "
    "per pair (no new shuffle).",
    tags=("dedup", "sketch", "bench"),
)
def minhash_bbit_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.dedup import (
        lineage_cut,
        shingle_exploded,
    )

    docs = load_table(spark, sf_dir, "documents")
    sig = lineage_cut(minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=8))
    cand = lineage_cut(lsh_candidate_pairs(sig, n_hashes=8, band_size=2))
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc"))
        .union(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    ex = lineage_cut(
        shingle_exploded(docs, "doc_id", "text", k=3).join(
            cand_docs, "doc", "left_semi"
        )
    )
    sizes = ex.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    ex_a = ex.select(F.col("doc").alias("doc_a"), F.col("s").alias("sa"))
    ex_b = ex.select(F.col("doc").alias("eb_doc"), F.col("s").alias("sb"))
    common = (
        cand.join(ex_a, "doc_a")
        .join(
            ex_b,
            (F.col("doc_b") == F.col("eb_doc")) & (F.col("sa") == F.col("sb")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("nb"))
    truth = (
        cand.join(common, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.coalesce("n_common", F.lit(0)).cast("double")
                / (
                    F.col("na")
                    + F.col("nb")
                    - F.coalesce("n_common", F.lit(0))
                )
            ).alias("j_true"),
        )
    )
    siga = sig.select(
        F.col("doc").alias("doc_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(8)]
    )
    sigb = sig.select(
        F.col("doc").alias("doc_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(8)]
    )
    # consumed by all 5 estimator branches of the union — cut once
    paired = lineage_cut(cand.join(siga, "doc_a").join(sigb, "doc_b"))
    def low_byte(c: str):
        return F.conv(F.substring(F.col(c), 31, 2), 16, 10).cast("long")

    ests = None
    for b in _BBIT_LEVELS:
        mod = 1 << b
        m_b = sum(
            F.when(low_byte(f"a{i}") % mod == low_byte(f"b{i}") % mod, 1).otherwise(0)
            for i in range(8)
        )
        est = (m_b * mod - 8).cast("double") / (8 * (mod - 1))
        cur = paired.select(
            "doc_a", "doc_b", F.lit(b).cast("long").alias("bits"), est.alias("est")
        )
        ests = cur if ests is None else ests.unionAll(cur)
    m_full = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(8)
    )
    ests = ests.unionAll(
        paired.select(
            "doc_a",
            "doc_b",
            F.lit(64).cast("long").alias("bits"),
            (m_full.cast("double") / 8).alias("est"),
        )
    )
    errs = ests.join(truth, ["doc_a", "doc_b"]).select(
        "bits",
        F.floor(F.abs(F.col("est") - F.col("j_true")) * 1_000_000 + 0.5)
        .cast("long")
        .alias("err_micros"),
    )
    return errs.groupBy("bits").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.floor(F.sum("err_micros") * 1.0 / F.count(F.lit(1)) + 0.5)
        .cast("long")
        .alias("mean_abs_err_micros"),
    )
