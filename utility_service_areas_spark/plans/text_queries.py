"""SURVEY.md §2.4 — text-analysis queries on the documents table.
All JVM-side expressions except the winnowing fingerprint (Arrow UDF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from utility_service_areas_spark.functions.textops import STOPWORDS
from utility_service_areas_spark.operators.text import (
    fingerprint_docs,
    lang_guess,
    quality_score_micros,
    stopword_hits,
    token_counts,
)
from utility_service_areas_spark.plans import ORACLE_POS_CAP
from utility_service_areas_spark.plans.registry import query
from utility_service_areas_spark.sources.tables import load_table
from utility_service_areas_spark.operators.localrel import local_df

_TOKS = r"string_split_regex(trim(text, ' '), '[ \t\n\x0b\f\r]+')"
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


@query(
    "text_token_count",
    oracle=rf"""
    SELECT doc_id,
           len({_TOKS}) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\x0b\f\r]'))
               AS n_bpe_tokens
    FROM documents
    """,
    doc="Whitespace + BPE-ish-regex token counts, pure codegen.",
    tags=("text",),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws, bpe = token_counts(F.col("text"))
    return docs.select("doc_id", ws.alias("n_ws_tokens"), bpe.alias("n_bpe_tokens"))


@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id,
           stop_hits,
           CASE WHEN stop_hits * 1.0 / greatest(n_tok, 1) >= 0.08
                THEN 'en' ELSE 'other' END AS lang_guess
    FROM (
      SELECT doc_id,
             CAST(len(list_filter({_TOKS}, t -> t IN ({_STOP_SQL}))) AS BIGINT)
                 AS stop_hits,
             len({_TOKS}) AS n_tok
      FROM documents)
    """,
    doc="Language-ID heuristic via stopword density (model-pluggable "
    "contract: text → label, no shuffle).",
    tags=("text",),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        stopword_hits(F.col("text")).alias("stop_hits"),
        lang_guess(F.col("text")).alias("lang_guess"),
    )


@query(
    "text_quality_score",
    oracle=rf"""
    SELECT doc_id,
           CAST(floor((0.4 * (alpha / chars)
                     + 0.3 * least(1.0, n_tok / 100.0)
                     + 0.3 * (n_distinct / greatest(n_tok, 1.0))) * 1000000 + 0.5)
                AS BIGINT) AS quality_micros
    FROM (
      SELECT doc_id,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
                 AS alpha,
             CAST(greatest(length(text), 1) AS DOUBLE) AS chars,
             CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
             CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS n_distinct
      FROM documents)
    """,
    doc="Composite quality score (alpha ratio, length, repetition) as "
    "micros-bigint; the cheap pre-filter stage of an LLM data pipeline.",
    tags=("text",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", quality_score_micros(F.col("text")).alias("quality_micros")
    )


@query(
    "text_clean",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 .,!?''-]', ' ', 'g'),
               '[ \t\n\x0b\f\r]+', ' ', 'g')) AS clean_text,
           length(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 .,!?''-]', ' ', 'g'),
               '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS clean_len
    FROM documents
    """,
    doc="Text normalization (lowercase, strip non-text chars, collapse "
    "whitespace) — the first stage of every LLM data pipeline; pure "
    "codegen regexp chain, no UDF.",
    tags=("text",),
)
def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 .,!?'-]", " "),
            r"[ \t\n\x0b\f\r]+",
            " ",
        )
    )
    return docs.select(
        "doc_id", cleaned.alias("clean_text"), F.length(cleaned).cast("long").alias("clean_len")
    )


@query(
    "text_top_tokens",
    oracle=rf"""
    SELECT token, n FROM (
      SELECT token, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rk
      FROM (SELECT unnest({_TOKS}) AS token FROM documents)
      GROUP BY token)
    WHERE rk <= 50
    """,
    doc="Corpus vocabulary: top-50 token frequencies (tokenizer-vocab "
    "building block). Explode → partial-agg count → TopK.",
    tags=("text",),
)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.functions.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counts.orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(50)
        .select("token", "n")
    )


@query(
    "stratified_sample",
    oracle="""
    SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_doc_id
    FROM documents
    WHERE substr(md5(text), 1, 4) < '2000'
    GROUP BY lang
    """,
    doc="Deterministic content-hash sampling (~12.5%) with per-stratum "
    "counts — reproducible eval-set carving with no RNG state; the "
    "filter is a pure codegen predicate at any scale.",
    tags=("text",),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sampled = docs.filter(F.substring(F.md5(F.col("text")), 1, 4) < "2000")
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("doc_id").alias("min_doc_id"),
    )


@query(
    "text_tfidf_top_term",
    oracle=rf"""
    WITH tf AS (
      SELECT doc_id, token, count(*) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
      GROUP BY doc_id, token),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token)
    SELECT doc_id, token AS top_term, tf, df FROM (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, df.df ASC, tf.token ASC) AS rk
      FROM tf JOIN df ON tf.token = df.token)
    WHERE rk = 1
    """,
    doc="TF-IDF-style most-distinctive term per doc. Ranking is by "
    "(tf DESC, df ASC, term) — integer-only ordering so the oracle "
    "can't flip on float log() ULP differences; the float tf·idf "
    "variant is pytest-covered. Two shuffles (doc-term agg, df agg "
    "broadcast back).",
    tags=("text",),
)
def text_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from utility_service_areas_spark.functions.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        tf.join(df_, "token")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("token").alias("top_term"), "tf", "df")
    )


# Karp-Rabin constants mirroring functions/hashing.py: hash of an
# 8-char gram = Σ byte_j · B^(7-j) mod 2^64. DuckDB UBIGINT raises on
# overflow instead of wrapping, so the SQL does the arithmetic in
# HUGEINT and applies the 2^64 modulus explicitly; unicode(ch) ==
# utf-8 byte for the ASCII substrate (multibyte text would need a
# byte-level unnest). The ORACLE_POS_CAP (4096) series cap bounds
# gram positions — far above the substrate's 577-char max document.
_KR_POWS = [pow(1_000_003, 7 - j, 1 << 64) for j in range(8)]
_KR_TERMS = " + ".join(
    f"unicode(substr(s, i + {j}, 1))::HUGEINT * {_KR_POWS[j]}::HUGEINT"
    for j in range(8)
)


@query(
    "doc_fingerprint",
    oracle=rf"""
    WITH norm AS (
      SELECT doc_id, regexp_replace(trim(lower(text), ' '), '[ \t\n\x0b\f\r]+', ' ', 'g') AS s
      FROM documents),
    pos AS (
      SELECT doc_id, s, i
      FROM norm CROSS JOIN (SELECT unnest(generate_series(1, {ORACLE_POS_CAP})) AS i) ii
      WHERE i <= len(s) - 7),
    kr AS (
      SELECT doc_id, i,
             CAST(({_KR_TERMS}) % 18446744073709551616::HUGEINT AS UBIGINT) AS h,
             len(s) - 7 AS n_grams
      FROM pos),
    win AS (
      SELECT doc_id, i, n_grams,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS picked
      FROM kr),
    fp AS (
      SELECT DISTINCT doc_id,
             CAST(CASE WHEN picked >= 9223372036854775808::UBIGINT
                       THEN picked::HUGEINT - 18446744073709551616::HUGEINT
                       ELSE picked::HUGEINT END AS BIGINT) AS f
      FROM win WHERE i <= greatest(n_grams - 3, 1)),
    agg AS (
      SELECT doc_id, count(*) AS n_fingerprints, min(f) AS min_fingerprint
      FROM fp GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(a.n_fingerprints, 0) AS n_fingerprints,
           a.min_fingerprint
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
    doc="Winnowing fingerprints (k=8 char-grams, w=4 windows) per doc; "
    "Arrow-batched UDF. Shared fingerprints → copy-detection joins. "
    "The Karp-Rabin rolling hash + window minimum is mirrored exactly "
    "in the DuckDB oracle (HUGEINT arithmetic with explicit 2^64 "
    "modulus), so even this UDF kernel is hash-verified.",
    tags=("text",),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = fingerprint_docs(docs, "doc_id", "text")
    return out.select("doc_id", "n_fingerprints", "min_fingerprint")


@query(
    "docs_training_filter",
    oracle=rf"""
    SELECT doc_id, n_ws_tokens, quality_micros FROM (
      SELECT doc_id,
             len({_TOKS}) AS n_ws_tokens,
             CASE WHEN CAST(len(list_filter({_TOKS}, t -> t IN ({_STOP_SQL})))
                       AS BIGINT) * 1.0 / greatest(len({_TOKS}), 1) >= 0.08
                  THEN 'en' ELSE 'other' END AS lang_guess,
             CAST(floor((0.4 * (alpha / chars)
                       + 0.3 * least(1.0, n_tok / 100.0)
                       + 0.3 * (n_distinct / greatest(n_tok, 1.0))) * 1000000 + 0.5)
                  AS BIGINT) AS quality_micros
      FROM (
        SELECT doc_id, text,
               CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
                   AS alpha,
               CAST(greatest(length(text), 1) AS DOUBLE) AS chars,
               CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
               CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS n_distinct
        FROM documents))
    WHERE lang_guess = 'en' AND quality_micros >= 500000
      AND n_ws_tokens BETWEEN 5 AND 5000
    """,
    doc="The canonical LLM training-data cleaning stage: language "
    "filter AND quality threshold AND length band in ONE pass — all "
    "codegen expressions over a single scan, no UDF, no shuffle. At "
    "100 TB this is a map-only job whose predicates fuse into the "
    "parquet scan.",
    tags=("text",),
)
def docs_training_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws, _ = token_counts(F.col("text"))
    scored = docs.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        lang_guess(F.col("text")).alias("lang_guess"),
        quality_score_micros(F.col("text")).alias("quality_micros"),
    )
    return scored.filter(
        (F.col("lang_guess") == "en")
        & (F.col("quality_micros") >= 500000)
        & F.col("n_ws_tokens").between(5, 5000)
    ).select("doc_id", "n_ws_tokens", "quality_micros")


@query(
    "token_count_histogram",
    oracle=rf"""
    SELECT CAST(floor(len({_TOKS}) / 10) * 10 AS BIGINT) AS bucket,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY bucket
    """,
    doc="Token-length histogram (10-token buckets) over the corpus — "
    "the length-distribution profile that drives training-data length "
    "bands. One partial-agged shuffle on a tiny key space.",
    tags=("text",),
)
def token_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws, _ = token_counts(F.col("text"))
    return (
        docs.select((F.floor(ws / 10) * 10).cast("long").alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "corpus_clean_sample",
    oracle=rf"""
    WITH keepers AS (
      SELECT min(doc_id) AS doc_id
      FROM documents
      GROUP BY md5(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g'), ' '))),
    scored AS (
      SELECT doc_id,
             len({_TOKS}) AS n_ws_tokens,
             CASE WHEN CAST(len(list_filter({_TOKS}, t -> t IN ({_STOP_SQL})))
                       AS BIGINT) * 1.0 / greatest(len({_TOKS}), 1) >= 0.08
                  THEN 'en' ELSE 'other' END AS lang_guess,
             CAST(floor((0.4 * (alpha / chars)
                       + 0.3 * least(1.0, n_tok / 100.0)
                       + 0.3 * (n_distinct / greatest(n_tok, 1.0))) * 1000000 + 0.5)
                  AS BIGINT) AS quality_micros,
             substr(md5(text), 1, 4) AS h4
      FROM (
        SELECT doc_id, text,
               CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
                   AS alpha,
               CAST(greatest(length(text), 1) AS DOUBLE) AS chars,
               CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
               CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS n_distinct
        FROM documents
        WHERE doc_id IN (SELECT doc_id FROM keepers)))
    SELECT doc_id, n_ws_tokens, quality_micros
    FROM scored
    WHERE lang_guess = 'en' AND quality_micros >= 400000
      AND n_ws_tokens BETWEEN 5 AND 5000
      AND h4 < '8000'
    """,
    doc="End-to-end corpus cleaning pipeline in ONE plan — the "
    "composition a training-data run actually executes: exact dedup "
    "(keep min doc_id per normalized-text hash) → language/quality/"
    "length filter → deterministic ~50% content-hash sample. One "
    "shuffle total (the dedup groupBy); every other stage is a fused "
    "codegen predicate over the surviving rows. At 100 TB the dedup "
    "agg is the only network cost and the sample needs no RNG state.",
    tags=("text", "dedup"),
)
def corpus_clean_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.functions.textops import normalized_text

    docs = load_table(spark, sf_dir, "documents")
    keepers = (
        docs.groupBy(F.md5(normalized_text(F.col("text"))).alias("text_hash"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    ws, _ = token_counts(F.col("text"))
    kept = docs.join(keepers, "doc_id", "left_semi")
    scored = kept.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        lang_guess(F.col("text")).alias("lang_guess"),
        quality_score_micros(F.col("text")).alias("quality_micros"),
        F.substring(F.md5(F.col("text")), 1, 4).alias("h4"),
    )
    return scored.filter(
        (F.col("lang_guess") == "en")
        & (F.col("quality_micros") >= 400000)
        & F.col("n_ws_tokens").between(5, 5000)
        & (F.col("h4") < "8000")
    ).select("doc_id", "n_ws_tokens", "quality_micros")


@query(
    "docs_unigram_surprisal",
    oracle=rf"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
    freq AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq)
    SELECT tok.doc_id,
           count(*) AS n_tokens,
           CAST(sum(CAST(round((log2(n) - log2(c)) * 1000) AS BIGINT)) AS BIGINT)
               AS surprisal_millibits
    FROM tok JOIN freq USING (t) CROSS JOIN tot
    GROUP BY tok.doc_id
    """,
    doc="Unigram surprisal per document (perplexity-style quality "
    "filter): corpus token frequencies → per-token -log2 p → per-doc "
    "sum. The LM-scoring stage of a data pipeline with the LM "
    "replaced by the corpus unigram model — same plan shape as "
    "neural scoring (broadcastable freq table, map-side scoring, "
    "one agg). Per-token MILLIBIT rounding before the integer sum "
    "keeps the hash stable: log2 on exact integers agrees across "
    "engines far beyond the 0.0005-bit rounding granularity.",
    tags=("text",),
)
def docs_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.functions.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").cast("double").alias("n"))
    milli = F.round((F.log2("n") - F.log2("c")) * 1000).cast("long")
    return (
        tok.join(freq, "t")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(milli).alias("surprisal_millibits"),
        )
    )


@query(
    "heavy_hitter_tokens",
    oracle=None,  # sketch bounds; soundness pytest-verified vs exact
    doc="Heavy-hitter tokens via per-partition SpaceSaving summaries "
    "merged with eviction-floor bounds (operators/sketch.py) — the "
    "mergeable-sketch replacement for exact explode→count when the "
    "vocabulary doesn't fit anywhere: state is k counters per "
    "partition, shuffle is k rows per partition. Guarantees: every "
    "token with true frequency ≥ N/k is present; lb ≤ true ≤ ub.",
    tags=("text", "sketch"),
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.sketch import (
        heavy_hitter_tokens as hh,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = hh(docs, "text", k=64)
    # keep the plausible hitters (ub could still be below the N/k bar)
    return out.filter(F.col("count_lb") > 0)


_CMS_D = 4  # hash rows
_CMS_W = 1024  # counters per row


@query(
    "cms_token_counts",
    oracle=f"""
    WITH tc AS (
      SELECT token, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest({_TOKS}) AS token FROM documents)
      GROUP BY token),
    hpos AS (
      SELECT token, c, i,
             ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || token), 1, 15))
               ::BIGINT % {_CMS_W} AS pos
      FROM tc CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS i) ii),
    counters AS (
      SELECT i, pos, CAST(sum(c) AS BIGINT) AS cnt FROM hpos GROUP BY 1, 2),
    probes AS (SELECT token, c FROM tc ORDER BY c DESC, token LIMIT 32),
    est AS (
      SELECT p.token, p.c, min(k.cnt) AS est
      FROM probes p
      JOIN hpos r ON r.token = p.token
      JOIN counters k ON k.i = r.i AND k.pos = r.pos
      GROUP BY 1, 2)
    SELECT token, c AS true_count,
           CAST(est AS BIGINT) AS cms_estimate,
           est > c AS overcounted
    FROM est
    """,
    doc="EXPLICIT Count-Min Sketch (d=4, w=1024) in DataFrame algebra "
    "— the value-oracled twin of the SpaceSaving heavy_hitter_tokens "
    "(the same move #134 hll_registers_users made for the native HLL, "
    "VERDICT r8 task 3): counter state is a (row, md5-position) SUM "
    "aggregate — MERGEABLE (union two corpora by adding counters) and "
    "order-independent, so the DuckDB oracle replays it bit-for-bit. "
    "Emits the top-32 true tokens with their CMS point estimates "
    "(min over d counters); est >= true always (one-sided error), and "
    "the overcount bound e*N/w is pytest-pinned in test_sketch.py. "
    "Scale shape: one token-count shuffle (vocab-sized, partial-agg), "
    "a d-way explode of the DISTINCT vocab only, and a d*w=4096-row "
    "counter table that BROADCASTS to the probe join — state is O(dw) "
    "no matter the corpus size. That bounded counter table is exactly "
    "what a 100 TB run ships between stages instead of the vocab.",
    tags=("text", "sketch"),
)
def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.functions.textops import tokens
    from utility_service_areas_spark.operators.dedup import lineage_cut

    docs = load_table(spark, sf_dir, "documents")
    tc = lineage_cut(  # vocab-sized; consumed by counters AND probes
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pos_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"{i}:"), F.col("token"))), 1, 15
                        ),
                        16,
                        10,
                    ).cast("long")
                    % _CMS_W
                ).alias("pos"),
            )
            for i in range(_CMS_D)
        ]
    )
    hpos = tc.select("token", "c", F.explode(pos_structs).alias("b")).select(
        "token", "c", "b.i", "b.pos"
    )
    counters = hpos.groupBy("i", "pos").agg(F.sum("c").alias("cnt"))
    probes = tc.orderBy(F.col("c").desc(), F.col("token")).limit(32)
    probe_pos = probes.select("token", "c", F.explode(pos_structs).alias("b")).select(
        "token", "c", "b.i", "b.pos"
    )
    est = (
        probe_pos.join(F.broadcast(counters), ["i", "pos"])
        .groupBy("token", "c")
        .agg(F.min("cnt").alias("est"))
    )
    return est.select(
        "token",
        F.col("c").cast("long").alias("true_count"),
        F.col("est").cast("long").alias("cms_estimate"),
        (F.col("est") > F.col("c")).alias("overcounted"),
    )


@query(
    "docs_repetition_signals",
    oracle=rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
    uni AS (SELECT doc_id, 1 AS k, u.g AS g FROM toks, unnest(ts) AS u(g)),
    bi AS (SELECT doc_id, 2 AS k, ts[i] || ' ' || ts[i + 1] AS g
           FROM toks,
                unnest(CASE WHEN len(ts) >= 2
                            THEN generate_series(1, len(ts) - 1)
                            ELSE [] END) AS t(i)),
    cnt AS (SELECT doc_id, k, g, count(*) AS c
            FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
            GROUP BY 1, 2, 3),
    agg AS (SELECT doc_id,
                   max(CASE WHEN k = 1 THEN c END) AS mu,
                   sum(CASE WHEN k = 1 THEN c END) AS nt,
                   coalesce(sum(CASE WHEN k = 1 AND c >= 2 THEN c END), 0)
                       AS du,
                   max(CASE WHEN k = 2 THEN c END) AS mb,
                   sum(CASE WHEN k = 2 THEN c END) AS nb
            FROM cnt GROUP BY 1)
    SELECT doc_id,
           CAST(nt AS BIGINT) AS n_tok,
           CAST(round(1000000.0 * mu / nt) AS BIGINT) AS top_tok_micros,
           CAST(round(1000000.0 * du / nt) AS BIGINT) AS dup_tok_micros,
           CAST(coalesce(round(1000000.0 * mb / nb), 0) AS BIGINT)
               AS top_bigram_micros
    FROM agg
    """,
    doc="Gopher-style repetition quality signals per document: fraction "
    "of tokens that are the single most frequent token, fraction of "
    "tokens occurring >=2 times (counted with multiplicity), and the "
    "most-frequent-bigram share of all bigram slots — the standard "
    "repetitious-text filters an LLM curation pipeline runs before "
    "training (cf. Gopher/MassiveText rep-frac rules). All counts are "
    "PER-DOCUMENT, so the whole signal computes IN-ROW (r17): sort "
    "the token / adjacent-bigram arrays and fold run lengths with one "
    "O(n) aggregate() lambda per array — no explode, no shuffle, no "
    "joins, no UDF; the query is a pure map over the corpus scan "
    "(the old shape shuffled the entire tagged gram stream — about "
    "2x corpus bytes — just to count within doc_id groups).",
    tags=("text", "pipeline"),
)
def docs_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.spread import cpu_spread

    # The fold below is CPU-dense and shuffle-free; spread a
    # too-narrow local scan so it parallelizes (wide cluster scans
    # pass through untouched).
    docs = cpu_spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        F.col("doc_id"),
    )
    toks = F.split(F.trim(F.col("text")), r"[ \t\n\x0b\f\r]+")
    # Run-length fold over an already-sorted gram array: one O(n) pass
    # yielding (mx = max run length, dup = Σ run lengths >= 2) — the
    # per-doc top-gram count and duplicated-gram mass.
    _RUNS = (
        "aggregate({a}, "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, "
        "'mx', 0L, 'dup', 0L), "
        "(ac, t) -> IF(t <=> ac.prev, "
        "named_struct('prev', t, 'run', ac.run + 1L, "
        "'mx', ac.mx, 'dup', ac.dup), "
        "named_struct('prev', t, 'run', 1L, "
        "'mx', greatest(ac.mx, ac.run), "
        "'dup', ac.dup + IF(ac.run >= 2L, ac.run, 0L))), "
        "ac -> named_struct("
        "'mx', greatest(ac.mx, ac.run), "
        "'dup', ac.dup + IF(ac.run >= 2L, ac.run, 0L)))"
    )
    base = (
        docs.select("doc_id", toks.alias("toks"))
        # explode() dropped NULL-token docs; keep that row contract.
        .filter(F.col("toks").isNotNull())
        .select(
            "doc_id",
            F.expr("size(toks)").cast("long").alias("n"),
            F.expr(_RUNS.format(a="array_sort(toks)")).alias("u"),
            F.expr(
                _RUNS.format(
                    a=(
                        "array_sort(CASE WHEN size(toks) >= 2 THEN "
                        "transform(sequence(1, size(toks) - 1), "
                        "  i -> concat(element_at(toks, i), ' ', "
                        "              element_at(toks, i + 1))) "
                        "ELSE CAST(array() AS array<string>) END)"
                    )
                )
            ).alias("b"),
        )
    )
    # Bigram stats are NULL (not 0) for single-token docs — the old
    # aggregation's sum/max over zero k=2 rows — so the micros
    # division stays NULL→coalesce(0), never 0/0.
    agg = base.select(
        "doc_id",
        F.col("u.mx").alias("mu"),
        F.col("n").alias("nt"),
        F.col("u.dup").alias("du"),
        F.when(F.col("n") >= 2, F.col("b.mx")).alias("mb"),
        F.when(F.col("n") >= 2, F.col("n") - 1).alias("nb"),
    )
    return agg.select(
        "doc_id",
        F.col("nt").cast("long").alias("n_tok"),
        F.round(F.lit(1000000.0) * F.col("mu") / F.col("nt"))
        .cast("long")
        .alias("top_tok_micros"),
        F.round(F.lit(1000000.0) * F.col("du") / F.col("nt"))
        .cast("long")
        .alias("dup_tok_micros"),
        F.coalesce(
            F.round(F.lit(1000000.0) * F.col("mb") / F.col("nb")), F.lit(0.0)
        )
        .cast("long")
        .alias("top_bigram_micros"),
    )


@query(
    "source_curation_profile",
    oracle=rf"""
    WITH scored AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g'), ' ')) AS h,
             CAST(len({_TOKS}) AS BIGINT) AS ws,
             CASE WHEN CAST(len(list_filter({_TOKS}, t -> t IN ({_STOP_SQL})))
                       AS BIGINT) * 1.0 / greatest(len({_TOKS}), 1) >= 0.08
                  THEN 1 ELSE 0 END AS is_en,
             CAST(floor((0.4 * (alpha / chars)
                       + 0.3 * least(1.0, n_tok / 100.0)
                       + 0.3 * (n_distinct / greatest(n_tok, 1.0))) * 1000000 + 0.5)
                  AS BIGINT) AS q
      FROM (
        SELECT doc_id, source, text,
               CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                    AS DOUBLE) AS alpha,
               CAST(greatest(length(text), 1) AS DOUBLE) AS chars,
               CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
               CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS n_distinct
        FROM documents)),
    dupc AS (SELECT h, count(*) AS c FROM scored GROUP BY 1)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(is_en) AS BIGINT) AS n_en,
           CAST(sum(q) AS BIGINT) AS sum_quality_micros,
           CAST(sum(ws) AS BIGINT) AS sum_ws_tokens,
           CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_dup_docs
    FROM scored JOIN dupc USING (h)
    GROUP BY source
    """,
    doc="Per-source curation dashboard: one row per domain with doc "
    "count, language-heuristic hits, exact SUMS of quality-micros and "
    "token counts (sums of bigints are order-independent — consumers "
    "divide for means; an avg() of doubles would be combine-order "
    "noise), and how many of the source's docs are corpus-wide exact "
    "duplicates. This is the table a curation run reads to set "
    "per-domain quotas and quality cuts. Cost: one map-side scoring "
    "pass, one hash-frequency agg, one join back, one tiny per-source "
    "agg — all partial-aggregatable, no UDF.",
    tags=("text", "pipeline"),
)
def source_curation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws, _ = token_counts(F.col("text"))
    h = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"[ \t\n\x0b\f\r]+", " ")))
    scored = docs.select(
        "source",
        h.alias("h"),
        ws.cast("long").alias("ws"),
        F.when(lang_guess(F.col("text")) == "en", 1).otherwise(0).alias("is_en"),
        quality_score_micros(F.col("text")).alias("q"),
    )
    dupc = scored.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    return (
        scored.join(dupc, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_en").cast("long").alias("n_en"),
            F.sum("q").alias("sum_quality_micros"),
            F.sum("ws").alias("sum_ws_tokens"),
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_exact_dup_docs"),
        )
    )


@query(
    "lang_id_confusion",
    oracle=f"""
    SELECT lang,
           CASE WHEN CAST(len(list_filter({_TOKS}, t -> t IN ({_STOP_SQL})))
                     AS BIGINT) * 1.0 / greatest(len({_TOKS}), 1) >= 0.08
                THEN 'en' ELSE 'other' END AS lang_guess,
           count(*) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
    doc="Classifier evaluation as a query: the stopword-density "
    "language heuristic cross-tabulated against the substrate's "
    "ground-truth lang labels — the confusion matrix a curation run "
    "computes before trusting a cheap classifier at 100 TB (precision "
    "/ recall per label fall straight out of the cells). Map-side "
    "scoring, one partial agg onto |langs|x2 keys.",
    tags=("text", "pipeline"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_guess(F.col("text")).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "docs_bigram_surprisal",
    oracle=rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
    stream AS (
      SELECT doc_id, i, ts[i] AS cur,
             CASE WHEN i >= 2 THEN ts[i - 1] END AS prev
      FROM toks, unnest(CASE WHEN len(ts) >= 1
                             THEN generate_series(1, len(ts))
                             ELSE [] END) AS t(i)),
    uni AS (SELECT cur AS t, count(*) AS c1 FROM stream GROUP BY cur),
    bi AS (SELECT prev, cur, count(*) AS c2 FROM stream
           WHERE prev IS NOT NULL GROUP BY prev, cur),
    tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS n FROM uni),
    scored AS (
      SELECT s.doc_id,
             CASE WHEN s.prev IS NOT NULL AND b.c2 IS NOT NULL
                  THEN CAST(round((log2(up.c1) - log2(b.c2)) * 1000)
                            AS BIGINT)
                  ELSE CAST(round((log2(n) - log2(uc.c1)) * 1000)
                            AS BIGINT)
                       + CASE WHEN s.prev IS NOT NULL THEN 1322 ELSE 0 END
             END AS millibits,
             CAST(s.prev IS NOT NULL AND b.c2 IS NOT NULL AS INT) AS hit
      FROM stream s
      JOIN uni uc ON uc.t = s.cur
      LEFT JOIN uni up ON up.t = s.prev
      LEFT JOIN bi b ON b.prev = s.prev AND b.cur = s.cur
      CROSS JOIN tot)
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(sum(hit) AS BIGINT) AS n_bigram_hits,
           CAST(sum(millibits) AS BIGINT) AS surprisal_millibits
    FROM scored GROUP BY doc_id
    """,
    doc="Bigram LM surprisal with STUPID BACKOFF (Brants et al. 2007 "
    "— the web-scale LM smoothing): seen bigram scores "
    "-log2(c2/c1_prev), unseen backs off to the unigram with a fixed "
    "-log2(0.4) = 1322-millibit penalty. Every log2 argument stays an "
    "EXACT INTEGER count (the docs_unigram_surprisal trick), so "
    "engine log2 ulp differences can't flip the millibit rounding — "
    "interpolated smoothing (λp2+(1-λ)p1) would log2 an arbitrary "
    "double and was rejected for exactly that reason. Plan: bigram "
    "stream built map-side from the token array (no window/lag "
    "shuffle), two freq tables + left joins, one final agg.",
    tags=("text",),
)
def docs_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.functions.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("ts"))
    stream = toks.select(
        "doc_id",
        F.posexplode("ts").alias("i0", "cur"),
        F.col("ts"),
    ).select(
        "doc_id",
        "cur",
        F.when(F.col("i0") >= 1, F.element_at("ts", F.col("i0"))).alias("prev"),
    )
    uni = stream.groupBy(F.col("cur").alias("t")).agg(F.count(F.lit(1)).alias("c1"))
    bi = (
        stream.filter(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    tot = uni.agg(F.sum("c1").cast("double").alias("n"))
    s = (
        stream.join(uni.select(F.col("t").alias("cur"), F.col("c1").alias("c1_cur")), "cur")
        .join(
            uni.select(F.col("t").alias("prev"), F.col("c1").alias("c1_prev")),
            "prev",
            "left",
        )
        .join(bi, ["prev", "cur"], "left")
        .join(F.broadcast(tot))
    )
    hit = (F.col("prev").isNotNull() & F.col("c2").isNotNull()).cast("int")
    millibits = F.when(
        hit == 1,
        F.round((F.log2("c1_prev") - F.log2("c2")) * 1000).cast("long"),
    ).otherwise(
        F.round((F.log2("n") - F.log2("c1_cur")) * 1000).cast("long")
        + F.when(F.col("prev").isNotNull(), F.lit(1322)).otherwise(F.lit(0))
    )
    return (
        s.select("doc_id", hit.alias("hit"), millibits.alias("millibits"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("hit").cast("long").alias("n_bigram_hits"),
            F.sum("millibits").alias("surprisal_millibits"),
        )
    )


@query(
    "source_mixing_weights",
    # Engine-safety: sqrt() is IEEE-754 correctly rounded in BOTH
    # engines (unlike pow/ln, which are libm-divergent — the same
    # reason docs_bigram_surprisal uses integer-argument log2 only),
    # and each sqrt is quantized to a micros BIGINT *before* the
    # cross-source sum, so the denominator is an exact integer — a
    # raw sum of sqrt doubles would be combine-order noise.
    oracle=f"""
    WITH per_src AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(CAST(len({_TOKS}) AS BIGINT)) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    scaled AS (
      SELECT source, n_docs, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5)
                  AS BIGINT) AS s
      FROM per_src),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tok,
                   CAST(sum(s) AS BIGINT) AS tot_s
            FROM scaled)
    SELECT source, n_docs, n_tokens,
           CAST(floor(n_tokens * 1000000.0 / tot_tok + 0.5) AS BIGINT)
             AS raw_share_micros,
           CAST(floor(s * 1000000.0 / tot_s + 0.5) AS BIGINT)
             AS weight_micros,
           floor(s * 1000000.0 / tot_s + 0.5)
             > floor(n_tokens * 1000000.0 / tot_tok + 0.5) AS upweighted
    FROM scaled, tot
    """,
    doc="Temperature-adjusted source mixing weights (tau = 0.5): the "
    "operator that turns per-source token counts into the sampling "
    "distribution a training run draws from — w_i proportional to "
    "sqrt(n_tokens_i), the standard square-root temperature that "
    "upweights small/rare sources against head domains (same family "
    "as multilingual sampling in mBERT/XLM-R and domain mixing in "
    "Pile-style corpora). One map-side token count + a 20-row agg + "
    "a 1-row broadcast total: free at any corpus size. upweighted "
    "flags sources whose mixed share exceeds their raw share.",
    tags=("text", "pipeline"),
)
def source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws, _ = token_counts(F.col("text"))
    per_src = docs.select("source", ws.cast("long").alias("t")).groupBy(
        "source"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("t").alias("n_tokens"),
    )
    scaled = per_src.withColumn(
        "s",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1_000_000 + 0.5).cast(
            "long"
        ),
    )
    tot = scaled.agg(
        F.sum("n_tokens").alias("tot_tok"), F.sum("s").alias("tot_s")
    )
    raw = F.floor(F.col("n_tokens") * 1_000_000.0 / F.col("tot_tok") + 0.5)
    wgt = F.floor(F.col("s") * 1_000_000.0 / F.col("tot_s") + 0.5)
    return scaled.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        raw.cast("long").alias("raw_share_micros"),
        wgt.cast("long").alias("weight_micros"),
        (wgt > raw).alias("upweighted"),
    )


_FUNNEL_P1_SQL = "(is_en AND q >= 500000 AND t BETWEEN 5 AND 5000)"


def _funnel_stages_sql(
    lead: str = "WITH RECURSIVE ",
    p1_sql: str = _FUNNEL_P1_SQL,
    base_src: str = "base",
) -> str:
    """The staged curation-funnel prefix (CTEs `base` .. `s4`, each doc
    carrying its cumulative p1..p4 stage flags) shared by the global
    funnel oracle and the per-source variant. The minhash chain
    (sig/bands/cap/pairs) is the dedup_queries.py SQL verbatim,
    re-rooted at the stage-2 survivor set.

    ``lead``/``p1_sql``/``base_src`` let the classifier-gated funnel
    (#263, pipeline_queries.curation_funnel_classifier) splice this
    chain after the logreg training chain with the stage-1 quality
    gate swapped for the deployed classifier threshold — defaults
    reproduce the original text byte-for-byte."""
    from utility_service_areas_spark.plans.dedup_queries import (
        _bands_sql,
        _lsh_pairs_sql,
        _minhash_sig_sql,
    )

    # AS MATERIALIZED pins each multi-referenced stage to one
    # evaluation — without it DuckDB re-inlines the whole upstream
    # chain (token splits, minhash, the recursive closure) per
    # reference: measured 63 -> 1.5 s at sf0.1, identical results.
    return rf"""
    {lead}base AS MATERIALIZED (
      SELECT doc_id, source, text,
             CAST(len({_TOKS}) AS BIGINT) AS t,
             CASE WHEN CAST(len(list_filter({_TOKS}, tk -> tk IN ({_STOP_SQL})))
                       AS BIGINT) * 1.0 / greatest(len({_TOKS}), 1) >= 0.08
                  THEN TRUE ELSE FALSE END AS is_en,
             CAST(floor((0.4 * (alpha / chars)
                       + 0.3 * least(1.0, n_tok / 100.0)
                       + 0.3 * (n_distinct / greatest(n_tok, 1.0))) * 1000000 + 0.5)
                  AS BIGINT) AS q
      FROM (
        SELECT doc_id, source, text,
               CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                    AS DOUBLE) AS alpha,
               CAST(greatest(length(text), 1) AS DOUBLE) AS chars,
               CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
               CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS n_distinct
        FROM documents)),
    st AS MATERIALIZED (
      SELECT *,
             {p1_sql} AS p1,
             md5(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g'),
                      ' ')) AS h
      FROM {base_src}),
    ek AS (SELECT h, min(CASE WHEN p1 THEN doc_id END) AS kmin
           FROM st GROUP BY h),
    s2 AS MATERIALIZED (SELECT st.*, (p1 AND doc_id = kmin) AS p2
           FROM st JOIN ek USING (h)),
    toks AS (SELECT doc_id, {_TOKS} AS tok FROM s2 WHERE p2),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(tok) >= 3
                  THEN list_distinct([tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]
                                      for i in generate_series(1, len(tok)-2)])
                  ELSE [] END AS shingles
      FROM toks),
    ex AS (SELECT doc_id AS doc, unnest(shingles) AS s FROM sh),
    {_minhash_sig_sql()},
    {_bands_sql()},
    {_lsh_pairs_sql("cand")},
    verified AS (
      SELECT doc_a, doc_b
      FROM cand JOIN sig sa ON doc_a = sa.doc JOIN sig sb ON doc_b = sb.doc
      WHERE (sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT + (sa.h2 = sb.h2)::INT
          + (sa.h3 = sb.h3)::INT + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT
          + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT >= 6),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
              UNION ALL SELECT doc_b, doc_a FROM verified),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (SELECT a AS node, min(b) AS comp FROM reach GROUP BY a),
    s3 AS MATERIALIZED (
      SELECT s2.*, (p2 AND (c.comp IS NULL OR c.comp = doc_id)) AS p3
      FROM s2 LEFT JOIN comp c ON doc_id = c.node),
    rk AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY p3 DESC, md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
      FROM s3),
    s4 AS (SELECT s3.*, (p3 AND r <= 40) AS p4 FROM s3 JOIN rk USING (doc_id))"""


def _funnel_oracle_sql() -> str:
    """The whole curation pipeline as one staged replay: quality gate →
    exact dedup → minhash-LSH + component dedup (over survivors only)
    → per-source quota, collapsed to the 5-row global funnel."""
    return rf"""{_funnel_stages_sql()},
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n0, CAST(sum(t) AS BIGINT) AS t0,
             CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(coalesce(sum(CASE WHEN p1 THEN t END), 0) AS BIGINT) AS t1,
             CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(coalesce(sum(CASE WHEN p2 THEN t END), 0) AS BIGINT) AS t2,
             CAST(sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(coalesce(sum(CASE WHEN p3 THEN t END), 0) AS BIGINT) AS t3,
             CAST(sum(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
             CAST(coalesce(sum(CASE WHEN p4 THEN t END), 0) AS BIGINT) AS t4
      FROM s4)
    SELECT 0 AS stage_idx, 'raw' AS stage, n0 AS n_docs, t0 AS n_tokens FROM agg
    UNION ALL SELECT 1, 'quality_lang_length', n1, t1 FROM agg
    UNION ALL SELECT 2, 'exact_dedup', n2, t2 FROM agg
    UNION ALL SELECT 3, 'minhash_dedup', n3, t3 FROM agg
    UNION ALL SELECT 4, 'source_quota', n4, t4 FROM agg
    """


def _funnel_by_source_oracle_sql() -> str:
    """The same staged funnel, grouped by source: the per-domain
    curation dashboard. Identical stage flags; only the terminal
    aggregation differs (GROUP BY source instead of one global row)."""
    return rf"""{_funnel_stages_sql()},
    agg AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n0, CAST(sum(t) AS BIGINT) AS t0,
             CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(coalesce(sum(CASE WHEN p1 THEN t END), 0) AS BIGINT) AS t1,
             CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(coalesce(sum(CASE WHEN p2 THEN t END), 0) AS BIGINT) AS t2,
             CAST(sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(coalesce(sum(CASE WHEN p3 THEN t END), 0) AS BIGINT) AS t3,
             CAST(sum(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
             CAST(coalesce(sum(CASE WHEN p4 THEN t END), 0) AS BIGINT) AS t4
      FROM s4 GROUP BY source)
    SELECT source, 0 AS stage_idx, 'raw' AS stage,
           n0 AS n_docs, t0 AS n_tokens FROM agg
    UNION ALL SELECT source, 1, 'quality_lang_length', n1, t1 FROM agg
    UNION ALL SELECT source, 2, 'exact_dedup', n2, t2 FROM agg
    UNION ALL SELECT source, 3, 'minhash_dedup', n3, t3 FROM agg
    UNION ALL SELECT source, 4, 'source_quota', n4, t4 FROM agg
    """


_FUNNEL_QUOTA_K = 40  # per-source document quota at stage 4
_FUNNEL_QUOTA_SALT = 64  # phase-1 fan-out for the hot-source top-K


def _funnel_stage_frame(
    spark: SparkSession, sf_dir: str, clf_gate: DataFrame | None = None
) -> DataFrame:
    """One row per document with cumulative stage flags p1..p4 — the
    shared substrate of the global funnel report and the per-source
    dashboard. Each stage's work is bounded by the previous stage's
    survivors (the minhash chain only ever sees p2 rows).

    ``clf_gate`` (doc_id, pass_clf) swaps the stage-1 heuristic
    quality gate q >= 500000 for the trained classifier's verdict
    (#263) — the lang + length legs stay, downstream stages are
    untouched. The gate frame is corpus-keyed, so the join is one
    keyed shuffle (or a broadcast when the survivor side is small).

    Stage 4 (the per-source quota) is the exact two-phase salted
    top-K from ``domain_quota_sample``: phase 1 ranks within
    (source, salt-bucket) — any global top-K row is top-K within its
    bucket, so no candidate is lost — and phase 2 re-ranks the
    <= SALT*K survivors per source. A 1B-doc hot source costs one
    reducer ~2.5k rows instead of 1B (the r8 single-phase
    ``row_number() OVER (PARTITION BY source)`` sorted a whole
    source's survivors on one reducer — the known hot-domain
    scale-killer). The keep-set (<= n_sources*K rows) broadcasts back
    onto the stage frame; with a web-scale source taxonomy drop the
    broadcast hint and let AQE pick the join. The stage frame is
    lineage-cut (slim projection, no text) before fan-out because it
    now has two consumers (quota branch + join-back) and Catalyst
    does not reuse identical subtrees across joins of one plan."""
    from pyspark.sql.window import Window

    from utility_service_areas_spark.functions.textops import normalized_text
    from utility_service_areas_spark.operators.dedup import (
        lineage_cut,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from utility_service_areas_spark.operators.graph import connected_components
    from utility_service_areas_spark.operators.text import (
        lang_guess,
        quality_score_micros,
    )

    docs = load_table(spark, sf_dir, "documents")
    ws, _ = token_counts(F.col("text"))
    # The stage-1 gate expressions (tokenize + lang n-gram scan +
    # quality regexes + normalized-text md5) are the funnel's heaviest
    # map pass and ran on however many partitions the scan produced —
    # one, for a single-file local source, serializing the whole pass
    # BEFORE the h-window exchange fans out. Spread by input size
    # (r17); wide cluster scans pass through untouched.
    from utility_service_areas_spark.operators.spread import cpu_spread

    base = cpu_spread(docs, F.col("doc_id")).select(
        "doc_id",
        "source",
        "text",
        ws.cast("long").alias("t"),
        (lang_guess(F.col("text")) == "en").alias("is_en"),
        quality_score_micros(F.col("text")).alias("q"),
    )
    if clf_gate is None:
        p1 = (
            F.col("is_en")
            & (F.col("q") >= 500_000)
            & F.col("t").between(5, 5000)
        )
    else:
        base = base.join(clf_gate, "doc_id", "left")
        p1 = (
            F.col("is_en")
            & F.coalesce(F.col("pass_clf"), F.lit(False))
            & F.col("t").between(5, 5000)
        )
    # The §8 proxy/payload split (drop text before the h-window and
    # re-attach it to p2 survivors only) was measured and rejected:
    # interleaved A/B, sf0.1 warm even, 10× warm ~10% faster — under
    # the 15%-at-10× bar, so the payload rides through the window.
    st = base.withColumn("p1", p1).withColumn(
        "h", F.md5(normalized_text(F.col("text")))
    )
    kmin = F.min(F.when(F.col("p1"), F.col("doc_id"))).over(Window.partitionBy("h"))
    s2 = st.withColumn("p2", F.col("p1") & (F.col("doc_id") == kmin))
    surv2 = s2.filter("p2").select("doc_id", "text")
    sig = minhash_signatures(surv2, "doc_id", "text", k=3, n_hashes=8)
    pairs = lsh_candidate_pairs(sig, n_hashes=8, band_size=2).filter(
        "n_matching_minhashes >= 6"
    )
    from utility_service_areas_spark.operators.spread import cpu_spread_width

    comp = connected_components(
        pairs,
        width=cpu_spread_width(docs, spark.sparkContext.defaultParallelism),
    )
    s3 = lineage_cut(
        s2.join(comp, s2.doc_id == comp.node, "left")
        .withColumn(
            "p3",
            F.col("p2") & (F.col("comp").isNull() | (F.col("comp") == F.col("doc_id"))),
        )
        .select("doc_id", "source", "t", "p1", "p2", "p3")
    )
    surv = (
        s3.filter("p3")
        .withColumn("rk", F.md5(F.col("doc_id").cast("string")))
        .withColumn("sb", F.pmod(F.hash("doc_id"), F.lit(_FUNNEL_QUOTA_SALT)))
    )
    w1 = Window.partitionBy("source", "sb").orderBy("rk", "doc_id")
    w2 = Window.partitionBy("source").orderBy("rk", "doc_id")
    kept = (
        surv.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= _FUNNEL_QUOTA_K)
        .withColumn("r2", F.row_number().over(w2))
        .filter(F.col("r2") <= _FUNNEL_QUOTA_K)
        .select("doc_id", F.lit(True).alias("p4k"))
    )
    return (
        s3.join(F.broadcast(kept), "doc_id", "left")
        .withColumn("p4", F.col("p3") & F.coalesce(F.col("p4k"), F.lit(False)))
        .drop("p4k")
    )


def _funnel_agg_cols():
    """The ten funnel aggregate columns (docs+tokens at each stage),
    shared by the global and the per-source terminal aggregations."""
    return [
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum("t").cast("long").alias("t0"),
        F.sum(F.when(F.col("p1"), 1).otherwise(0)).cast("long").alias("n1"),
        F.coalesce(F.sum(F.when(F.col("p1"), F.col("t"))), F.lit(0))
        .cast("long")
        .alias("t1"),
        F.sum(F.when(F.col("p2"), 1).otherwise(0)).cast("long").alias("n2"),
        F.coalesce(F.sum(F.when(F.col("p2"), F.col("t"))), F.lit(0))
        .cast("long")
        .alias("t2"),
        F.sum(F.when(F.col("p3"), 1).otherwise(0)).cast("long").alias("n3"),
        F.coalesce(F.sum(F.when(F.col("p3"), F.col("t"))), F.lit(0))
        .cast("long")
        .alias("t3"),
        F.sum(F.when(F.col("p4"), 1).otherwise(0)).cast("long").alias("n4"),
        F.coalesce(F.sum(F.when(F.col("p4"), F.col("t"))), F.lit(0))
        .cast("long")
        .alias("t4"),
    ]


_FUNNEL_STACK = (
    "stack(5, "
    "CAST(0 AS BIGINT), 'raw', n0, t0, "
    "CAST(1 AS BIGINT), 'quality_lang_length', n1, t1, "
    "CAST(2 AS BIGINT), 'exact_dedup', n2, t2, "
    "CAST(3 AS BIGINT), 'minhash_dedup', n3, t3, "
    "CAST(4 AS BIGINT), 'source_quota', n4, t4) "
    "AS (stage_idx, stage, n_docs, n_tokens)"
)


@query(
    "curation_funnel_report",
    oracle=_funnel_oracle_sql(),
    doc="THE END-TO-END CURATION PIPELINE as one value-oracled query: "
    "raw corpus → quality/lang/length gate (map-side) → exact dedup "
    "(normalized-hash keeper) → MinHash-LSH + connected-components "
    "near-dup dedup computed over SURVIVORS ONLY (the composition a "
    "production run ships — each stage's volume is bounded by the "
    "previous stage's output) → per-source quota (deterministic md5 "
    "rank, exact two-phase salted top-K — no single-reducer sort of a "
    "hot source's survivors). Emits the 5-stage funnel (docs + tokens "
    "per stage) — the "
    "run report a 100 TB curation job publishes. Cumulative stage "
    "flags ride one frame, so the counts come from ONE aggregation; "
    "every stage reuses the registry's already-verified expressions.",
    tags=("text", "pipeline", "dedup"),
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = _funnel_stage_frame(spark, sf_dir).agg(*_funnel_agg_cols())
    return agg.select(F.expr(_FUNNEL_STACK))


@query(
    "curation_funnel_by_source",
    oracle=_funnel_by_source_oracle_sql(),
    doc="The per-domain curation dashboard: the same 5-stage funnel "
    "(quality gate → exact dedup → minhash+CC dedup over survivors → "
    "two-phase salted source quota) grouped by source — one (source, "
    "stage) row with "
    "docs + tokens. This is the table an operator reads to spot a "
    "source whose survival rate collapsed (a crawler regression, a "
    "template flood) before it poisons the mix. Identical stage flags "
    "to curation_funnel_report — the expensive pipeline runs once per "
    "query either way; only the terminal aggregation gains the "
    "source key (20 groups — partial agg, no extra pipeline cost).",
    tags=("text", "pipeline", "dedup"),
)
def curation_funnel_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = _funnel_stage_frame(spark, sf_dir).groupBy("source").agg(
        *_funnel_agg_cols()
    )
    return per.select("source", F.expr(_FUNNEL_STACK))


_VOCAB_N = 512  # tokenizer vocabulary size (top tokens by count)


@query(
    "tokenizer_vocab_coverage",
    oracle=f"""
    WITH occ AS (
      SELECT source, token, count(*) AS c
      FROM (SELECT source, unnest({_TOKS}) AS token FROM documents)
      GROUP BY 1, 2),
    vocab AS (
      SELECT token FROM (
        SELECT token, sum(c) AS n,
               row_number() OVER (ORDER BY sum(c) DESC, token) AS rk
        FROM occ GROUP BY token)
      WHERE rk <= {_VOCAB_N}),
    tagged AS (
      SELECT o.source, o.token, o.c,
             v.token IS NOT NULL AS in_vocab
      FROM occ o LEFT JOIN vocab v USING (token))
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN in_vocab THEN c ELSE 0 END) AS BIGINT)
             AS n_covered,
           CAST(floor(sum(CASE WHEN in_vocab THEN c ELSE 0 END)
                      * 1000000.0 / sum(c) + 0.5) AS BIGINT)
             AS coverage_micros,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT)
             AS n_oov_types
    FROM tagged GROUP BY source
    """,
    doc=f"Tokenizer vocabulary coverage per source: fit a top-"
    f"{_VOCAB_N} frequency vocabulary on the corpus, then report "
    "each source's occurrence coverage (share of token occurrences "
    "inside the vocab) and OOV type count — the pre-training check "
    "that a tokenizer/vocab sized for the head domains doesn't "
    "shatter a tail source into unknowns (a low-coverage source "
    "trains badly and skews loss). Scale shape: ONE (source, token) "
    "partial-agg shuffle; the vocab is a TakeOrdered top-K "
    f"({_VOCAB_N} rows) that BROADCASTS back onto the vocab-sized "
    "per-source counts — the raw token stream is never joined or "
    "re-shuffled.",
    tags=("text", "pipeline"),
)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.functions.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    occ = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from utility_service_areas_spark.operators.dedup import lineage_cut

    occ = lineage_cut(occ)  # consumed by the vocab fit AND the tagging
    vocab = (
        occ.groupBy("token")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(_VOCAB_N)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    tagged = occ.join(F.broadcast(vocab), "token", "left").withColumn(
        "in_vocab", F.coalesce(F.col("in_vocab"), F.lit(False))
    )
    cov = F.sum(F.when(F.col("in_vocab"), F.col("c")).otherwise(0))
    return tagged.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        cov.cast("long").alias("n_covered"),
        F.floor(cov * 1000000.0 / F.sum("c") + 0.5)
        .cast("long")
        .alias("coverage_micros"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("in_vocab"), 0).otherwise(1))
        .cast("long")
        .alias("n_oov_types"),
    )


def drift_binned_counts(df: DataFrame) -> DataFrame:
    """(source, bin, a, b) cohort counts for source_length_drift."""
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    return (
        df.select(
            "source",
            (F.col("n_chars") / 256).cast("long").alias("bin"),
            (h % 2).alias("cohort"),
        )
        .groupBy("source", "bin")
        .agg(
            F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0))
            .cast("long")
            .alias("b"),
        )
    )


@query(
    "source_length_drift",
    oracle="""
    WITH binned AS (
      SELECT source, n_chars // 256 AS bin,
             sum(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT % 2 = 0 THEN 1 ELSE 0 END) AS a,
             sum(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT % 2 = 1 THEN 1 ELSE 0 END) AS b
      FROM documents GROUP BY 1, 2)
    SELECT source,
           CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b,
           CAST(sum((a - b) * (a - b) * 1000 // (a + b)) AS BIGINT)
             AS chi2_milli
    FROM binned GROUP BY source
    """,
    doc="Two-sample distribution-drift screen per source: split each "
    "source's docs into two cohorts by the md5 integer-hash parity "
    "(the deterministic stand-in for yesterday/today batches — "
    "doc_id parity is degenerate here because ids stripe by source), "
    "bin doc lengths into fixed 256-char buckets, and report the "
    "chi-square-style drift score sum((a-b)^2*1000 div (a+b)) per "
    "source. Every term is BIGINT (integer floor-division both "
    "sides), so the score is bit-identical across engines — the "
    "drift monitor a recurring ingest publishes next to "
    "data_quality_audit. Scale shape: ONE partial-agged shuffle "
    "whose key space is sources x occupied bins (never doc volume), "
    "then a sources-sized fold. Overflow note: (a-b)^2*1000 fits "
    "BIGINT up to per-bin cohort gaps of ~9.6e7 docs; beyond that "
    "reorder to ((a-b)^2 div (a+b)) * 1000 or widen to decimal.",
    tags=("text", "pipeline"),
)
def source_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    binned = drift_binned_counts(docs)
    comp = F.expr("(a - b) * (a - b) * 1000 div (a + b)")
    return binned.groupBy("source").agg(
        F.sum("a").cast("long").alias("n_a"),
        F.sum("b").cast("long").alias("n_b"),
        F.sum(comp).cast("long").alias("chi2_milli"),
    )


_COLLOC_VOCAB = 100
_COLLOC_MIN_SUPPORT = 5


@query(
    "token_collocations",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    vocab AS (
      SELECT token FROM (
        SELECT token,
               row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rk
        FROM toks GROUP BY token) WHERE rk <= {_COLLOC_VOCAB}),
    dt AS (
      SELECT DISTINCT t.doc_id, t.token FROM toks t JOIN vocab v USING (token)),
    df AS (SELECT token, count(*) AS n_docs FROM dt GROUP BY 1),
    pairs AS (
      SELECT a.token AS tok_a, b.token AS tok_b, count(*) AS n_docs_both
      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY 1, 2)
    SELECT p.tok_a, p.tok_b, p.n_docs_both,
           CAST(fa.n_docs AS BIGINT) AS n_docs_a,
           CAST(fb.n_docs AS BIGINT) AS n_docs_b
    FROM pairs p JOIN df fa ON p.tok_a = fa.token
                 JOIN df fb ON p.tok_b = fb.token
    WHERE p.n_docs_both >= {_COLLOC_MIN_SUPPORT}
    """,
    doc="Token collocations: co-document frequencies for every pair "
    "of top-100 vocabulary tokens (with per-token marginals, so PMI/"
    "lift/chi-square are one downstream division away — ln itself is "
    "not cross-engine-exact, SURVEY §6, so the query publishes exact "
    "integer counts). The collocation mining step of phrase/stopword "
    "discovery over a corpus. Scale shape: the market-basket shape "
    "on tokens — vocab is a top-K broadcast semi-filter, each doc "
    "collapses to its sorted DISTINCT vocab-token set (<=100 "
    "elements, in-row), pairs come from an in-row combination "
    "lambda, never a per-doc self-join (the oracle's dt x dt join is "
    "oracle-side only); pair counts partial-agg on a key space "
    "bounded by C(100,2). Two tokenize passes over the corpus (vocab "
    "count + doc-token sets) — a map pass each, cheaper than "
    "checkpointing a corpus-sized token stream.",
    tags=("text", "pipeline"),
)
def token_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.functions.textops import tokens
    from utility_service_areas_spark.operators.spread import cpu_spread

    docs = load_table(spark, sf_dir, "documents")
    # Both tokenize passes (vocab count + doc-token sets) hang off this
    # projection; a single-file local scan arrives 1 partition wide and
    # would run them serially — spread it by input size (r17, same
    # discipline as shingle_exploded; wide cluster scans untouched).
    base = cpu_spread(docs.select("doc_id", "text"), F.col("doc_id"))
    toks = base.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(_COLLOC_VOCAB)
        .select("token")
    )
    dt = (
        toks.join(F.broadcast(vocab), "token")
        .select("doc_id", "token")
        .distinct()
    )
    from utility_service_areas_spark.operators.dedup import lineage_cut

    dt = lineage_cut(dt)  # consumed by the marginals AND the baskets
    df_marg = dt.groupBy("token").agg(F.count(F.lit(1)).alias("n_docs"))
    baskets = dt.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("token")).alias("items")
    )
    pair_expr = (
        "flatten(transform(items, (a, i) -> "
        "transform(slice(items, i + 2, size(items) - i - 1), "
        "b -> struct(a AS tok_a, b AS tok_b))))"
    )
    pairs = (
        baskets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.tok_a", "p.tok_b")
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_docs_both"))
        .filter(F.col("n_docs_both") >= _COLLOC_MIN_SUPPORT)
    )
    fa = df_marg.select(
        F.col("token").alias("tok_a"), F.col("n_docs").alias("n_docs_a")
    )
    fb = df_marg.select(
        F.col("token").alias("tok_b"), F.col("n_docs").alias("n_docs_b")
    )
    return (
        pairs.join(F.broadcast(fa), "tok_a")
        .join(F.broadcast(fb), "tok_b")
        .select(
            "tok_a", "tok_b",
            F.col("n_docs_both").cast("long"),
            F.col("n_docs_a").cast("long"),
            F.col("n_docs_b").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge training (VERDICT r9 task #6 / r10 task #3): the one
# LLM-pipeline family previously absent — #171 measures vocab coverage
# but nothing *learned* merges until this.

_BPE_VOCAB_N = 1500  # word-frequency table cap (freq DESC, word ASC)
_BPE_MERGES = 6  # trained merge rounds (production: thousands; same loop)
_BPE_WORD_RE = "[a-z]+"  # alphabetic pre-tokenizer, RE2- and Java-safe


def _bpe_cte_sql(
    n_merges: int = _BPE_MERGES,
    vocab_n: int = _BPE_VOCAB_N,
    final: str = "merges",
) -> str:
    """Unrolled DuckDB CTE chain replaying tokenizer_bpe_merges round
    by round. The greedy left-to-right non-overlapping merge is
    expressed with window functions (no lambdas): adjacent-match flags,
    gaps-and-islands over consecutive match runs (overlapping matches
    only occur for l==r runs), even-offset-within-island selection,
    then drop rows consumed by the previous position's merge. The
    Spark side implements the SAME semantics as a sequential fold —
    two independent formulations, one contract. Each round's symbol
    table, pair frame and best pair are MATERIALIZED: DuckDB inlines a
    plain CTE per reference, so every round would otherwise replay the
    whole prior chain (measured 63 s -> 0.3 s at sf0.001)."""
    parts = [
        "WITH w AS (",
        "  SELECT word, CAST(count(*) AS BIGINT) AS freq",
        f"  FROM (SELECT unnest(regexp_extract_all(lower(text), '{_BPE_WORD_RE}')) AS word",
        "        FROM documents)",
        "  GROUP BY word",
        f"  ORDER BY freq DESC, word ASC LIMIT {vocab_n}),",
        "s0 AS (",
        "  SELECT word, freq, CAST(pos AS BIGINT) AS pos, substr(word, pos, 1) AS sym",
        "  FROM (SELECT word, freq, unnest(generate_series(1, length(word))) AS pos",
        "        FROM w)),",
    ]
    for i in range(n_merges):
        parts += [
            f"p{i} AS MATERIALIZED (",
            "  SELECT word, freq, pos, sym,",
            "         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt",
            f"  FROM s{i}),",
            f"b{i} AS MATERIALIZED (",
            "  SELECT l, r, c FROM (",
            "    SELECT sym AS l, nxt AS r, CAST(sum(freq) AS BIGINT) AS c",
            f"    FROM p{i} WHERE nxt IS NOT NULL GROUP BY sym, nxt)",
            "  ORDER BY c DESC, l ASC, r ASC LIMIT 1),",
            f"m{i} AS (",
            "  SELECT p.word, p.freq, p.pos, p.sym,",
            "         (p.sym = b.l AND p.nxt = b.r) AS m",
            f"  FROM p{i} p, b{i} b),",
            f"i{i} AS (",
            "  SELECT word, freq, pos, sym, m,",
            "         CASE WHEN m THEN pos - row_number()",
            "              OVER (PARTITION BY word, m ORDER BY pos) END AS isl",
            f"  FROM m{i}),",
            f"sel{i} AS (",
            "  SELECT word, freq, pos, sym,",
            "         m AND ((pos - min(pos) OVER (PARTITION BY word, isl)) % 2 = 0) AS sel",
            f"  FROM i{i}),",
            f"s{i + 1} AS MATERIALIZED (",
            "  SELECT n.word, n.freq,",
            "         CAST(row_number() OVER (PARTITION BY n.word ORDER BY n.pos) AS BIGINT) AS pos,",
            "         CASE WHEN n.sel THEN n.sym || b.r ELSE n.sym END AS sym",
            "  FROM (SELECT word, freq, pos, sym, sel,",
            "               coalesce(lag(sel) OVER (PARTITION BY word ORDER BY pos), false) AS consumed",
            f"        FROM sel{i}) n, b{i} b",
            "  WHERE NOT n.consumed),",
        ]
    if final == "merges":
        unions = [
            (
                f"SELECT CAST({i + 1} AS BIGINT) AS merge_round, l AS left_sym, "
                f"r AS right_sym, l || r AS merged_sym, c AS pair_count FROM b{i}"
            )
            for i in range(n_merges)
        ]
    elif final == "round_stats":
        # after-round-i corpus cost: s{i} holds one row per (word,
        # pos), so sum(freq) = sum_w freq_w * |syms_w| and the
        # distinct sym count is the symbol inventory (chars + i
        # merged symbols actually in use). Early-stop parity with the
        # Spark fold: when training exhausts pairs before round i,
        # b{i-1} is empty so s{i} is empty — HAVING drops the arm
        # exactly where _bpe_train's break stops emitting (arm 0 keeps
        # the coalesce-0 empty-corpus row the Spark side documents).
        unions = [
            "SELECT CAST(0 AS BIGINT) AS merge_round, "
            "CAST(coalesce(sum(freq), 0) AS BIGINT) AS total_symbols, "
            "CAST(count(DISTINCT sym) AS BIGINT) AS n_symbol_types "
            "FROM s0"
        ] + [
            (
                f"SELECT CAST({i} AS BIGINT) AS merge_round, "
                f"CAST(sum(freq) AS BIGINT) AS total_symbols, "
                f"CAST(count(DISTINCT sym) AS BIGINT) AS n_symbol_types "
                f"FROM s{i} HAVING count(*) > 0"
            )
            for i in range(1, n_merges + 1)
        ]
    else:
        raise ValueError(f"unknown final {final!r}")
    parts[-1] = parts[-1].rstrip(",")  # close the WITH list
    return "\n".join(parts) + "\n" + "\nUNION ALL\n".join(unions)


def _bpe_train(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = _BPE_MERGES,
    vocab_n: int = _BPE_VOCAB_N,
    want_stats: bool = False,
) -> tuple[
    list[tuple[int, str, str, str, int]], list[tuple[int, int, int]]
]:
    """Shared BPE trainer behind tokenizer_bpe_merges and
    bpe_compression_sweep: one corpus-sized word-count collapse, then
    n_merges rounds of vocab-sized argmax + greedy fold. When
    want_stats, also collects the per-round corpus cost — ONE extra
    vocab-sized action per round (sum(freq) over the exploded symbol
    frame == sum_w freq_w * |syms_w|, plus the distinct-symbol
    inventory), bounded driver state like the merge rows themselves."""
    from utility_service_areas_spark.operators.dedup import lineage_cut

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower(text), '{_BPE_WORD_RE}', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word"))
        .limit(vocab_n)
    )
    vocab = lineage_cut(
        words.select(
            "freq",
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            ).alias("syms"),
        )
    )
    merges: list[tuple[int, str, str, str, int]] = []
    stats: list[tuple[int, int, int]] = []

    def _stat(rnd: int) -> None:
        row = (
            vocab.select("freq", F.explode("syms").alias("sym"))
            .agg(
                # coalesce: an empty vocab (corpus with no [a-z]+ words)
                # sums to NULL; report 0 like the brute reference.
                F.coalesce(F.sum("freq"), F.lit(0)).alias("total_symbols"),
                F.countDistinct("sym").alias("n_symbol_types"),
            )
            .collect()[0]
        )
        stats.append((rnd, int(row.total_symbols), int(row.n_symbol_types)))

    if want_stats:
        _stat(0)
    for rnd in range(n_merges):
        best = (
            vocab.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(syms[i - 1] AS l, syms[i] AS r))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:  # every word is a single symbol — training done
            break
        l, r, c = best[0].l, best[0].r, int(best[0].c)
        merges.append((rnd + 1, l, r, l + r, c))
        # Greedy left-to-right non-overlapping merge as a sequential
        # fold: a just-merged symbol (l||r) can never equal l (r is
        # non-empty), so the fold cannot double-consume — see the
        # oracle's islands formulation for the equivalent window form.
        vocab = lineage_cut(
            vocab.select(
                "freq",
                F.expr(
                    "aggregate(syms, cast(array() AS array<string>), "
                    "(acc, x) -> if(size(acc) > 0 "
                    f"AND element_at(acc, -1) = '{l}' AND x = '{r}', "
                    f"concat(slice(acc, 1, size(acc) - 1), array('{l + r}')), "
                    "concat(acc, array(x))))"
                ).alias("syms"),
            )
        )
        if want_stats:
            _stat(rnd + 1)
    return merges, stats


@query(
    "tokenizer_bpe_merges",
    oracle=_bpe_cte_sql(),
    doc=f"Byte-pair-encoding merge training (Sennrich et al. 2016; the "
    "HF-tokenizers trainer shape): collapse the corpus ONCE to a "
    f"word-frequency table (top {_BPE_VOCAB_N} alphabetic words, "
    "freq-desc/word-asc deterministic cap), split words into character "
    f"symbols, then {_BPE_MERGES} rounds of: count adjacent symbol "
    "pairs weighted by word frequency, pick the argmax pair "
    "(count DESC, left ASC, right ASC — a total order), and greedily "
    "merge its non-overlapping occurrences left-to-right in every "
    "word. Output = the learned merge table (round, pair, merged "
    "symbol, count) — the artifact a tokenizer ships. Scale shape: "
    "the ONLY corpus-sized work is the word-count collapse (one "
    "partial-agged shuffle); every training round runs on the "
    "vocab-sized symbol frame (<= vocab_n rows, lineage-cut per round "
    "because its syms column stacks interpreted fold HOFs — the "
    "pca_map lesson), and per-round driver state is ONE collected "
    "best-pair row (the k-means bounded-centroid convention). The "
    "merge fold and the oracle's window-function islands formulation "
    "are independent implementations of the same greedy semantics; "
    "overlapping matches only arise for l==r runs, where both select "
    "even offsets within each run.",
    tags=("text", "pipeline"),
)
def tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _ = _bpe_train(spark, sf_dir)
    return local_df(spark, 
        merges,
        "merge_round long, left_sym string, right_sym string, "
        "merged_sym string, pair_count long",
    )


@query(
    "bpe_compression_sweep",
    oracle=_bpe_cte_sql(final="round_stats"),
    doc="The BPE lever table (completes the tuning-lever family: dedup "
    "thresholds #203, IVF probes #201, LSH planes #205, seq lens #204, "
    "matryoshka dims #169): corpus cost after each merge round 0..N of "
    "the SAME training run as tokenizer_bpe_merges (shared _bpe_train "
    "fold, so the two outputs are consistent by construction). "
    "total_symbols = sum_w freq_w * |syms_w| — the frequency-weighted "
    "token count the corpus would encode to under the vocab learned so "
    "far (round 0 = raw character count); n_symbol_types = the symbol "
    "inventory actually in use. Both are exact integers, so the DuckDB "
    "replay (same CTE chain as the merge oracle, aggregating each s{i} "
    "stage instead of each b{i} argmax) is engine-divergence-free. "
    "Scale shape: identical to #208 — one corpus-sized word-count "
    "collapse, then every per-round stat is ONE vocab-sized action "
    "(<= vocab_n exploded rows) with one collected row of driver "
    "state; the operator a tokenizer-training pipeline uses to pick "
    "its merge budget (marginal compression per round).",
    tags=("text", "pipeline"),
)
def bpe_compression_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, stats = _bpe_train(spark, sf_dir, want_stats=True)
    return local_df(spark, 
        stats,
        "merge_round long, total_symbols long, n_symbol_types long",
    )


# BM25 ranked retrieval (#219). Robertson/Lucene parameters k1=1.2,
# b=0.75 — kept RATIONAL so the whole tf normalization clears to a
# ratio of exact BIGINTs:
#   norm = tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl)
#        = 22*L*tf / (10*L*tf + 3*L + 9*dl*N)        (avgdl = L/N)
# with N = corpus docs, L = corpus tokens, dl = doc tokens. Both sides
# of the division are < 2^53 at any tested SF, so the DOUBLE casts are
# exact and the single IEEE division is correctly rounded identically
# in both engines (the KMV precedent — the only float allowed to
# cross). idf folds the +0.5 smoothing into integer log arguments:
#   idf = ln((N-df+0.5)/(df+0.5) + 1) = log((2N+2)/(2df+1))
#       -> idf_bits = log2(2N+2) - log2(2df+1)       (exact-int args,
# the #89 surprisal posture). Per-(query-term, doc) contributions are
# rounded to MILLIBITS before the per-doc integer sum, so float
# summation order can never flip the hash.
_BM25_QUERIES = (
    ("q_join", "hash join merge"),
    ("q_stream", "stream window batch"),
    ("q_scan", "scan filter sort"),
)
_BM25_K = 10
_BM25_QUERY_SQL = " UNION ALL ".join(
    f"SELECT '{qid}' AS query_id, unnest(['"
    + "', '".join(qs.split())
    + "']) AS t"
    for qid, qs in _BM25_QUERIES
)

# Shared CTE chain (composed verbatim by #219 and the RRF fusion #227)
# ending in `bm25_ranked` (query_id, doc_id, score_millibits,
# n_terms_matched, rk) — unfiltered ranks.
_BM25_CTES = rf"""
    q AS ({_BM25_QUERY_SQL}),
    tok AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
    tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
           FROM tok GROUP BY 1),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS l_total FROM dl),
    pruned AS (SELECT tf.* FROM tf
               WHERE t IN (SELECT DISTINCT t FROM q)),
    dfreq AS (SELECT t, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
              FROM pruned GROUP BY t),
    contrib AS (
      SELECT q.query_id, p.doc_id,
             CAST(round((log2(2 * s.n_docs + 2) - log2(2 * dfreq.df + 1))
                        * (CAST(22 * s.l_total * p.tf AS DOUBLE)
                           / CAST(10 * s.l_total * p.tf + 3 * s.l_total
                                  + 9 * dl.dl * s.n_docs AS DOUBLE))
                        * 1000) AS BIGINT) AS term_millibits
      FROM pruned p
      JOIN q ON q.t = p.t
      JOIN dfreq ON dfreq.t = p.t
      JOIN dl ON dl.doc_id = p.doc_id
      CROSS JOIN stats s),
    bm25_scores AS (
      SELECT query_id, doc_id,
             CAST(sum(term_millibits) AS BIGINT) AS score_millibits,
             CAST(count(*) AS BIGINT) AS n_terms_matched
      FROM contrib GROUP BY 1, 2),
    bm25_ranked AS (
      SELECT query_id, doc_id, score_millibits, n_terms_matched,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score_millibits DESC,
                                              doc_id ASC) AS BIGINT) AS rk
      FROM bm25_scores)"""


@query(
    "text_bm25_topk",
    oracle=rf"""
    WITH {_BM25_CTES}
    SELECT query_id, rk, doc_id, score_millibits, n_terms_matched
    FROM bm25_ranked
    WHERE rk <= {_BM25_K}
    """,
    doc="BM25 ranked retrieval: top-10 documents per query for a "
    "3-query literal workload (k1=1.2, b=0.75). Every score is an "
    "integer MILLIBIT: idf = log2(2N+2) - log2(2df+1) (exact-integer "
    "log args, the #89 surprisal posture), the tf/length norm clears "
    "to one correctly-rounded IEEE division of exact BIGINTs "
    "(22*L*tf / (10*L*tf + 3*L + 9*dl*N)), and per-term contributions "
    "round to millibits BEFORE the per-doc integer sum — engine-"
    "divergence-free end to end. Scale shape: the broadcast query-term "
    "dim prunes the postings list FIRST (the inverted-index access "
    "pattern — scoring work is per-posting of query terms, never "
    "corpus-sized), df/stats are tiny broadcast frames, and the "
    "per-query top-10 compiles to the WindowGroupLimit top-k pushdown "
    "(#210's shape — no full sort of the score table). r13: the "
    "scoring body is bm25_topk_frame, which takes an arbitrary "
    "QUERIES TABLE (query_id, t) — this registered entry passes the "
    "oracled 3-literal workload; a 50-query frame runs through the "
    "same builder with plan pins intact "
    "(tests/test_retrieval_query_table.py).",
    tags=("text",),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    qterms = local_df(spark, 
        [(qid, t) for qid, qs in _BM25_QUERIES for t in qs.split()],
        "query_id string, t string",
    )
    return bm25_topk_frame(docs, qterms)


def bm25_topk_frame(
    docs: DataFrame, qterms: DataFrame, k: int = _BM25_K
) -> DataFrame:
    """BM25 top-k over an arbitrary QUERIES TABLE (r13, VERDICT task
    #5): ``qterms`` is (query_id string, t string) — one row per query
    term, any number of queries. The plan shape is independent of the
    workload size as long as the query dim stays broadcastable (it is
    at any realistic workload: a million query terms is MBs): postings
    prune by the broadcast term dim BEFORE scoring, per-query top-k is
    a WindowGroupLimit pushdown. The registered #219 passes the
    3-literal oracled workload; tests/test_retrieval_query_table.py
    runs a 50-query frame through this same builder with the plan pins
    intact."""
    from pyspark.sql.window import Window

    from utility_service_areas_spark.functions.textops import tokens

    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("l_total")
    )
    pruned = tf.join(F.broadcast(qterms.select("t").distinct()), "t")
    dfreq = pruned.groupBy("t").agg(F.countDistinct("doc_id").alias("df"))

    idf_bits = F.log2(2 * F.col("n_docs") + 2) - F.log2(2 * F.col("df") + 1)
    norm = (22 * F.col("l_total") * F.col("tf")).cast("double") / (
        10 * F.col("l_total") * F.col("tf")
        + 3 * F.col("l_total")
        + 9 * F.col("dl") * F.col("n_docs")
    ).cast("double")
    term_millibits = F.round(idf_bits * norm * 1000).cast("long")

    scores = (
        pruned.join(F.broadcast(qterms), "t")
        .join(F.broadcast(dfreq), "t")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(term_millibits).alias("score_millibits"),
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_millibits").desc(), F.col("doc_id").asc()
    )
    return (
        scores.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            F.col("rk").cast("long").alias("rk"),
            "doc_id",
            "score_millibits",
            "n_terms_matched",
        )
    )


@query(
    "source_token_entropy",
    oracle=rf"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS t FROM documents),
    freq AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
             FROM tok GROUP BY 1, 2),
    per AS (SELECT source,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS vocab_size,
                   CAST(sum(CAST(round(c * log2(c) * 1000) AS BIGINT))
                        AS BIGINT) AS s_milli
            FROM freq GROUP BY source)
    SELECT source, n_tokens, vocab_size,
           CAST(round(log2(n_tokens) * 1000) AS BIGINT)
             - CAST(floor(s_milli / (n_tokens * 1.0) + 0.5) AS BIGINT)
               AS entropy_millibits
    FROM per
    """,
    doc="Per-source Shannon entropy of the token distribution, in "
    "millibits: H = log2(N) - (1/N)*sum(c*log2(c)) — the corpus "
    "DIVERSITY metric that complements #153's mixing weights (a "
    "source can be large yet low-entropy boilerplate; mixing on "
    "volume alone overweights it). Engine-exactness: log2 runs on "
    "exact integers only (the #89 posture), each vocab term is "
    "rounded to millibits BEFORE the per-source integer sum (float "
    "summation order can never flip the hash), and the final 1/N is "
    "one correctly-rounded IEEE division. Scale: one token-count "
    "shuffle (vocab-sized, partial-agg) then a source-sized agg — "
    "the same two-shuffle skeleton as #52.",
    tags=("text",),
)
def source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.functions.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("t"))
    freq = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    term_milli = F.round(
        F.col("c") * F.log2("c") * 1000
    ).cast("long")
    per = freq.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum(term_milli).cast("long").alias("s_milli"),
    )
    return per.select(
        "source",
        "n_tokens",
        "vocab_size",
        (
            F.round(F.log2("n_tokens") * 1000).cast("long")
            - F.floor(F.col("s_milli") / (F.col("n_tokens") * 1.0) + 0.5).cast(
                "long"
            )
        ).alias("entropy_millibits"),
    )


_RAKE_MAX_PHRASE = 4  # candidate phrases capped at 4 tokens (RAKE convention)
_RAKE_TOP = 20


@query(
    "text_rake_keyphrases",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, i, toks[i] AS t
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents),
           unnest(generate_series(1, {ORACLE_POS_CAP})) AS s(i)
      WHERE i <= len(toks)),
    nonstop AS (
      SELECT doc_id, i, t,
             CAST(i AS BIGINT)
               - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      FROM tok WHERE t NOT IN ({_STOP_SQL})),
    islands AS (
      SELECT doc_id, grp,
             array_to_string(list(t ORDER BY i), ' ') AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM nonstop GROUP BY doc_id, grp),
    members AS (
      SELECT n.doc_id, n.grp, n.t, isl.plen
      FROM nonstop n JOIN islands isl
        ON isl.doc_id = n.doc_id AND isl.grp = n.grp
      WHERE isl.plen <= {_RAKE_MAX_PHRASE}),
    wordstats AS (
      SELECT t,
             CAST(sum(plen) * 1000000 AS BIGINT)
               // CAST(count(*) AS BIGINT) AS w_score_micros
      FROM members GROUP BY t),
    scored AS (
      SELECT isl.phrase,
             CAST(sum(w.w_score_micros) AS BIGINT) AS inst_score
      FROM islands isl
      JOIN nonstop n ON n.doc_id = isl.doc_id AND n.grp = isl.grp
      JOIN wordstats w ON w.t = n.t
      WHERE isl.plen <= {_RAKE_MAX_PHRASE}
      GROUP BY isl.doc_id, isl.grp, isl.phrase),
    byphrase AS (
      SELECT phrase,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(max(inst_score) AS BIGINT) AS score_micros
      FROM scored GROUP BY phrase)
    SELECT phrase, n_occurrences, score_micros FROM (
      SELECT *, row_number() OVER (ORDER BY score_micros DESC, phrase ASC)
                  AS rk
      FROM byphrase)
    WHERE rk <= {_RAKE_TOP}
    """,
    doc="RAKE keyphrase extraction (Rose et al. 2010): candidate "
    "phrases are maximal stopword-free token runs (gaps-and-islands: "
    "grp = i - row_number per doc, a KEYED window) capped at "
    f"{_RAKE_MAX_PHRASE} tokens; word score = degree/frequency where "
    "degree sums the lengths of phrases containing the word; phrase "
    "score sums member word scores; top-20 by score. Engine-exact "
    "with NO float anywhere: word score is (deg*1e6) integer-DIV "
    "freq (Spark `div` == DuckDB `//` on positives), phrase score an "
    "integer sum. Identical phrases score identically by "
    "construction (max == any). Token positions are bounded at "
    "ORACLE_POS_CAP=4096 on BOTH sides (oracle generate_series cap; "
    "Spark slices the token array to the same cap before posexplode) "
    "— docs longer than the cap truncate identically instead of "
    "diverging silently; substrate max is ~120 tokens. Scale: two "
    "keyed windows + vocab-sized word stats (broadcastable); the "
    "final top-20 is TakeOrdered (no global window on the Spark "
    "side).",
    tags=("text",),
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from utility_service_areas_spark.functions.textops import (
        STOPWORDS,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        # cap positions at the shared oracle bound so over-long docs
        # truncate identically on both engines (r13 ADVICE fix)
        F.posexplode(
            F.slice(tokens(F.col("text")), 1, ORACLE_POS_CAP)
        ).alias("i0", "t"),
    ).select("doc_id", (F.col("i0") + 1).cast("long").alias("i"), "t")
    nonstop = (
        tok.filter(~F.col("t").isin(*STOPWORDS))
        .withColumn(
            "grp",
            F.col("i")
            - F.row_number().over(
                Window.partitionBy("doc_id").orderBy("i")
            ),
        )
    )
    islands = nonstop.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "t"))),
                lambda s: s["t"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("plen"),
    )
    short = islands.filter(F.col("plen") <= _RAKE_MAX_PHRASE)
    members = nonstop.join(short, ["doc_id", "grp"])
    wordstats = members.groupBy("t").agg(
        F.expr("CAST(sum(plen) * 1000000 AS BIGINT) div count(*)").alias(
            "w_score_micros"
        )
    )
    scored = (
        members.join(F.broadcast(wordstats), "t")
        .groupBy("doc_id", "grp", "phrase")
        .agg(F.sum("w_score_micros").cast("long").alias("inst_score"))
    )
    byphrase = scored.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.max("inst_score").cast("long").alias("score_micros"),
    )
    return (
        byphrase.orderBy(F.col("score_micros").desc(), F.col("phrase").asc())
        .limit(_RAKE_TOP)
        .select("phrase", "n_occurrences", "score_micros")
    )


_RRF_C = 60  # the standard RRF damping constant (Cormack et al. 2009)
_RRF_TOP = 5


@query(
    "search_rrf_fusion",
    oracle=rf"""
    WITH {_BM25_CTES},
    qual AS (
      SELECT doc_id,
             CAST(floor((0.4 * (alpha / chars)
                       + 0.3 * least(1.0, n_tok / 100.0)
                       + 0.3 * (n_distinct / greatest(n_tok, 1.0))) * 1000000
                       + 0.5) AS BIGINT) AS quality_micros
      FROM (
        SELECT doc_id,
               CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                    AS DOUBLE) AS alpha,
               CAST(greatest(length(text), 1) AS DOUBLE) AS chars,
               CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
               CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS n_distinct
        FROM documents)),
    cand AS (SELECT DISTINCT doc_id FROM bm25_ranked WHERE rk <= {_BM25_K}),
    cand_q AS (SELECT c.doc_id, q.quality_micros
               FROM cand c JOIN qual q USING (doc_id)),
    qrank AS (
      SELECT c.doc_id,
             CAST(1 + count(e.doc_id) AS BIGINT) AS rank_quality
      FROM cand_q c LEFT JOIN qual e
        ON e.quality_micros > c.quality_micros
        OR (e.quality_micros = c.quality_micros AND e.doc_id < c.doc_id)
      GROUP BY c.doc_id),
    fused AS (
      SELECT b.query_id, b.doc_id, b.rk AS rank_bm25, r.rank_quality,
             CAST(1000000 // (({_RRF_C} + b.rk))
                + 1000000 // (({_RRF_C} + r.rank_quality)) AS BIGINT)
               AS rrf_micros
      FROM bm25_ranked b JOIN qrank r USING (doc_id)
      WHERE b.rk <= {_BM25_K})
    SELECT query_id, CAST(rk AS BIGINT) AS rank, doc_id,
           rank_bm25, rank_quality, rrf_micros
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY rrf_micros DESC, doc_id ASC)
                      AS rk
          FROM fused)
    WHERE rk <= {_RRF_TOP}
    """,
    doc="Reciprocal-rank fusion (Cormack et al. 2009, the standard "
    "hybrid-retrieval combiner): each query's BM25 top-10 (#219's "
    "shared ranking CTEs, composed verbatim) fuses with a GLOBAL "
    "document-quality ranking (#34's score) via "
    "rrf = 1e6 div (60+rank_a) + 1e6 div (60+rank_b) — pure integer "
    "division, no float anywhere past the two source rankings. The "
    "quality rank of the <=30-doc shortlist is computed by "
    "COUNT-GREATER against the corpus (1 + #docs strictly ahead "
    "under (quality DESC, doc_id)): one broadcast of the shortlist "
    "against the scored scan — a global rank with NO global sort, "
    "the move that makes reranking a shortlist free at 100 TB. "
    "Top-5 fused per query, WindowGroupLimit shape.",
    tags=("text", "ann"),
)
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    bm25 = text_bm25_topk(spark, sf_dir)  # query_id, rk, doc_id, ...
    docs = load_table(spark, sf_dir, "documents")
    return rrf_fusion_frame(docs, bm25)


def rrf_fusion_frame(
    docs: DataFrame, bm25: DataFrame, top: int = None
) -> DataFrame:
    """RRF fusion over an arbitrary BM25 result frame (r13, VERDICT
    task #5): ``bm25`` is any (query_id, rk, doc_id, ...) ranking —
    the registered #227 passes the oracled 3-literal workload's; a
    50-query workload flows through unchanged because every
    workload-sized frame here is candidate-sized (broadcast), never
    corpus-sized."""
    from pyspark.sql.window import Window

    if top is None:
        top = _RRF_TOP
    qual = docs.select(
        "doc_id", quality_score_micros(F.col("text")).alias("quality_micros")
    )
    cand = bm25.select("doc_id").distinct()
    cand_q = cand.join(qual, "doc_id").select(
        F.col("doc_id").alias("c_doc"), F.col("quality_micros").alias("c_q")
    )
    ahead = (
        qual.join(
            F.broadcast(cand_q),
            (F.col("quality_micros") > F.col("c_q"))
            | (
                (F.col("quality_micros") == F.col("c_q"))
                & (F.col("doc_id") < F.col("c_doc"))
            ),
            "inner",
        )
        .groupBy("c_doc")
        .agg(F.count(F.lit(1)).alias("n_ahead"))
        .select(F.col("c_doc").alias("a_doc"), "n_ahead")
    )
    qrank = cand_q.join(
        ahead, F.col("c_doc") == F.col("a_doc"), "left"
    ).select(
        F.col("c_doc").alias("doc_id"),
        (F.coalesce("n_ahead", F.lit(0)) + 1).cast("long").alias("rank_quality"),
    )
    fused = bm25.join(qrank, "doc_id").select(
        "query_id",
        "doc_id",
        F.col("rk").alias("rank_bm25"),
        "rank_quality",
        (
            F.expr(f"CAST(1000000 AS BIGINT) div ({_RRF_C} + rk)")
            + F.expr(f"CAST(1000000 AS BIGINT) div ({_RRF_C} + rank_quality)")
        )
        .cast("long")
        .alias("rrf_micros"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micros").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top)
        .select(
            "query_id", "rank", "doc_id", "rank_bm25", "rank_quality", "rrf_micros"
        )
    )


_ZIPF_TOP = 100  # fit over the top-100 tokens (the standard Zipf range)


@query(
    "corpus_zipf_fit",
    oracle=rf"""
    WITH freq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest({_TOKS}) AS token FROM documents)
      GROUP BY token),
    top AS (
      SELECT token, c,
             CAST(row_number() OVER (ORDER BY c DESC, token ASC) AS BIGINT)
               AS rnk
      FROM freq QUALIFY rnk <= {_ZIPF_TOP}),
    pts AS (
      SELECT CAST(round(log2(rnk) * 1000) AS BIGINT) AS x,
             CAST(round(log2(c) * 1000) AS BIGINT) AS y
      FROM top),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts)
    SELECT n,
           CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000)
                AS BIGINT) AS slope_micros,
           CAST(round((CAST(sy AS DOUBLE)
                       - (CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE))
                         * CAST(sx AS DOUBLE)) / n) AS BIGINT)
             AS intercept_millibits
    FROM s
    """,
    doc="Zipf's-law fit for the corpus: OLS of log2(freq) on "
    "log2(rank) over the top-100 tokens — slope ~ -1 is the "
    "natural-language signature, and a corpus whose slope drifts "
    "(template spam flattens it, narrow-domain text steepens it) "
    "fails the fit before a human reads a single document. Engine-"
    "exact: log2 on exact integers rounded to millibits (the #89 "
    "posture), OLS sums are pure BIGINTs, the slope is one "
    "correctly-rounded IEEE division and the intercept reuses that "
    "exact expression operand-for-operand. Scale: one vocab-sized "
    "partial-agg count, top-100 via TakeOrdered, the fit over a "
    "100-row bounded frame.",
    tags=("text", "analytics"),
)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from utility_service_areas_spark.functions.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # TakeOrdered top-100, then rank within the bounded frame (a
    # 100-row global window is k-row, not data-sized)
    top = (
        freq.orderBy(F.col("c").desc(), F.col("token").asc())
        .limit(_ZIPF_TOP)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("c").desc(), F.col("token").asc())
            ),
        )
    )
    pts = top.select(
        F.round(F.log2("rnk") * 1000).cast("long").alias("x"),
        F.round(F.log2("c") * 1000).cast("long").alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope_f = num / den
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(slope_f * 1_000_000).cast("long").alias("slope_micros"),
        F.round(
            (F.col("sy").cast("double") - slope_f * F.col("sx").cast("double"))
            / F.col("n")
        )
        .cast("long")
        .alias("intercept_millibits"),
    )


_HASHTF_DIM = 64  # feature-hash buckets (MLlib HashingTF's numFeatures)


@query(
    "text_hashing_trick_features",
    oracle=rf"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
    feat AS (
      SELECT doc_id,
             ('0x' || substr(md5('tf:' || t), 1, 15))::BIGINT % {_HASHTF_DIM}
               AS bucket,
             CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2)
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, tf
    FROM feat
    """,
    doc="Feature hashing (the 'hashing trick' — MLlib HashingTF "
    "re-expressed as a plan): token -> md5 bucket mod 64, per-doc "
    "bucket counts as the sparse bag-of-words feature vector in long "
    "form (doc_id, bucket, tf). The featurizer that needs NO "
    "vocabulary pass at all — the property that makes it the default "
    "at 100 TB where a vocab dictionary is itself a big-data problem "
    "(vs #171's top-512 vocab encoder, which pays a corpus pass and "
    "a broadcast). One explode + one partial-agged (doc, bucket) "
    "shuffle; the md5 bucket is the repo's integer seam so the "
    "oracle replays every cell.",
    tags=("text", "pipeline"),
)
def text_hashing_trick_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.functions.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("tf:"), F.col("t"))), 1, 15),
            16,
            10,
        ).cast("long")
        % _HASHTF_DIM
    )
    return (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


# Per-process cache of built BM25 index dirs, keyed by sf_dir (the
# _PERSISTED_INDEX_DIRS posture from ann_queries.py): the first
# text_bm25_search_persisted call in a process BUILDS the parquet
# index, every later call searches the existing artifacts. Never keyed
# on content: a fresh process always rebuilds, so a changed corpus
# can't serve a stale index across runs.
_PERSISTED_BM25_DIRS: dict[str, str] = {}


@query(
    "text_bm25_search_persisted",
    oracle=rf"""
    WITH {_BM25_CTES}
    SELECT query_id, rk, doc_id, score_millibits, n_terms_matched
    FROM bm25_ranked
    WHERE rk <= {_BM25_K}
    """,
    doc="The persisted TEXT-index lifecycle (S34 — the Lucene "
    "write-segment/read-segment contract, twin of the IVFPQ vector "
    "lifecycle): build_bm25_index tokenizes the corpus ONCE and "
    "persists the inverted index as parquet artifacts (postings/ = "
    "(t, doc_id, tf), doclens/ = (doc_id, dl)) plus a manifest "
    "written LAST as the commit marker (a crashed build is never "
    "readable). This query then answers the #219 query workload "
    "purely FROM THE ARTIFACTS (operators/text_index.py:"
    "search_bm25_index — bm25_topk_frame's scoring operand for "
    "operand with tf/dl read from parquet), and is therefore "
    "row-identical to the inline text_bm25_topk — same oracle SQL "
    "attests both. Incremental add is EXACT (not frozen-state "
    "approximate like PQ): BM25's corpus stats are additive counts "
    "recomputed from the stores, so append-postings == full rebuild "
    "over the union corpus (pinned in tests/test_text_index.py, with "
    "first-writer-wins doc_id idempotence). Within a session the "
    "built index dir is cached: first call builds, later calls "
    "search artifacts only. Scale: postings/ is the only corpus-"
    "sized artifact; the broadcast query-term dim prunes it in one "
    "streaming broadcast-hash-join pass (no postings shuffle — "
    "plan-pinned); df/stats are pruned-postings/doclens aggregates; "
    "top-k is the WindowGroupLimit pushdown.",
    tags=("text", "pipeline"),
)
def text_bm25_search_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from utility_service_areas_spark.operators.text_index import (
        build_bm25_index,
        load_bm25_index,
        search_bm25_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    key = os.path.abspath(sf_dir)
    index_dir = _PERSISTED_BM25_DIRS.get(key)
    if index_dir is not None:
        try:  # verify the cached dir still holds a committed index
            load_bm25_index(spark, index_dir)
        except (FileNotFoundError, ValueError):
            index_dir = None
    if index_dir is None:
        index_dir = tempfile.mkdtemp(prefix="usa_bm25_")
        build_bm25_index(docs, index_dir)
        _PERSISTED_BM25_DIRS[key] = index_dir
    qterms = local_df(spark, 
        [(qid, t) for qid, qs in _BM25_QUERIES for t in qs.split()],
        "query_id string, t string",
    )
    return search_bm25_index(spark, index_dir, qterms, k=_BM25_K)


# Gopher-rule quality battery (#240). Bounds are the PAPER's where the
# rule survives translation (word count 50..100k, mean word length
# 3..10 — the latter passes uniformly on this homogeneous substrate,
# documented, not tuned away); the repetition/type-token rules adapt
# Gopher's line-level duplicate rules to token level (the substrate
# has no line structure). Each threshold is a rational compared by
# integer cross-multiplication — no float ratio ever materializes, so
# the oracle mirrors exactly.
_GOPHER_STOP_MIN = 2  # distinct stopwords required (Gopher rule 8)


@query(
    "docs_gopher_quality_flags",
    oracle=rf"""
    WITH base AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents),
    feats AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT)
               AS sum_len,
             CAST(len(list_filter(list_distinct(toks),
                                  t -> t IN ({_STOP_SQL}))) AS BIGINT)
               AS n_stop,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
      FROM base),
    toptf AS (
      SELECT doc_id, CAST(max(c) AS BIGINT) AS top_tf
      FROM (SELECT doc_id, t, count(*) AS c
            FROM (SELECT doc_id, unnest(toks) AS t FROM base)
            GROUP BY 1, 2)
      GROUP BY 1)
    SELECT f.doc_id,
           CAST(n_words BETWEEN 50 AND 100000 AS BIGINT) AS r_word_count,
           CAST(sum_len >= 3 * n_words
                AND sum_len <= 10 * n_words AS BIGINT) AS r_mean_word_len,
           CAST(n_stop >= {_GOPHER_STOP_MIN} AS BIGINT) AS r_stopwords,
           CAST(5 * top_tf <= n_words AS BIGINT) AS r_repetition,
           CAST(10 * n_distinct >= 3 * n_words AS BIGINT) AS r_type_token,
           CAST(n_words BETWEEN 50 AND 100000
                AND sum_len >= 3 * n_words
                AND sum_len <= 10 * n_words
                AND n_stop >= {_GOPHER_STOP_MIN}
                AND 5 * top_tf <= n_words
                AND 10 * n_distinct >= 3 * n_words AS BIGINT) AS pass_all
    FROM feats f JOIN toptf USING (doc_id)
    """,
    doc="Gopher-style rule-battery quality filter (Rae et al. 2021 "
    "§A1.1, the named RULE SET every web-corpus pipeline runs before "
    "model-based scoring — distinct from #34's composite score, which "
    "blends signals into one number; here each rule is a separate "
    "auditable flag): word count 50..100k, mean word length 3..10, "
    ">=2 distinct stopwords, top-token share <= 1/5 (repetition), "
    "type-token ratio >= 0.3. Bounds are the paper's where they "
    "translate (mean-word-length passes uniformly on this "
    "homogeneous substrate — kept faithful, not tuned); rationals "
    "compared by integer CROSS-MULTIPLICATION (2*sum_len >= 7*n_words "
    "etc.) so no float ratio exists on either engine. Scale: one "
    "map-side pass computes four of five features from the token "
    "array; only the top-token share needs the (doc,t) partial-agg "
    "shuffle; flags land as 0/1 BIGINTs for downstream funnel "
    "reporting (#158's consumers).",
    tags=("text", "pipeline"),
)
def docs_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.functions.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks"))
    feats = base.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        F.aggregate(
            "toks",
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.length(t).cast("long"),
        ).alias("sum_len"),
        F.size(
            F.array_intersect(
                F.array_distinct("toks"), F.array(*[F.lit(w) for w in STOPWORDS])
            )
        )
        .cast("long")
        .alias("n_stop"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
    )
    toptf = (
        base.select("doc_id", F.explode("toks").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("long").alias("top_tf"))
    )
    r1 = F.col("n_words").between(50, 100000)
    r2 = (F.col("sum_len") >= 3 * F.col("n_words")) & (
        F.col("sum_len") <= 10 * F.col("n_words")
    )
    r3 = F.col("n_stop") >= _GOPHER_STOP_MIN
    r4 = 5 * F.col("top_tf") <= F.col("n_words")
    r5 = 10 * F.col("n_distinct") >= 3 * F.col("n_words")
    return feats.join(toptf, "doc_id").select(
        "doc_id",
        r1.cast("long").alias("r_word_count"),
        r2.cast("long").alias("r_mean_word_len"),
        r3.cast("long").alias("r_stopwords"),
        r4.cast("long").alias("r_repetition"),
        r5.cast("long").alias("r_type_token"),
        (r1 & r2 & r3 & r4 & r5).cast("long").alias("pass_all"),
    )


# Multinomial Naive Bayes source classifier (#241): the fastText-style
# supervised baseline trained AS A PLAN. Laplace add-1 smoothing keeps
# every log2 argument an exact integer: log P(t|s) factors to
# log2(c_st + 1) - log2(N_s + V), both integer args (the #89/#147
# posture), and each per-(doc, class, token) contribution rounds to
# millibits BEFORE the integer sum, so summation order cannot flip
# the argmax.
@query(
    "text_naive_bayes_source",
    oracle=rf"""
    WITH tok AS (SELECT doc_id, source, unnest({_TOKS}) AS t
                 FROM documents),
    tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
    class_tok AS (SELECT source AS cls, t, CAST(count(*) AS BIGINT) AS c_st
                  FROM tok GROUP BY 1, 2),
    class_stats AS (SELECT source AS cls,
                           CAST(count(*) AS BIGINT) AS n_s
                    FROM tok GROUP BY 1),
    class_prior AS (SELECT source AS cls,
                           CAST(count(*) AS BIGINT) AS n_docs_s
                    FROM documents GROUP BY 1),
    corpus AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v,
                      (SELECT CAST(count(*) AS BIGINT) FROM documents)
                        AS n_docs
               FROM tok),
    contrib AS (
      SELECT tf.doc_id, cs.cls,
             CAST(round(tf.tf * (log2(coalesce(ct.c_st, 0) + 1)
                                 - log2(cs.n_s + corpus.v)) * 1000)
                  AS BIGINT) AS mb
      FROM tf
      CROSS JOIN class_stats cs
      CROSS JOIN corpus
      LEFT JOIN class_tok ct ON ct.cls = cs.cls AND ct.t = tf.t),
    scored AS (
      SELECT c.doc_id, c.cls,
             CAST(sum(c.mb) AS BIGINT)
               + CAST(round((log2(p.n_docs_s) - log2(corpus.n_docs))
                            * 1000) AS BIGINT) AS score_mb
      FROM contrib c
      JOIN class_prior p ON p.cls = c.cls
      CROSS JOIN corpus
      GROUP BY c.doc_id, c.cls, p.n_docs_s, corpus.n_docs),
    pred AS (
      SELECT doc_id, cls AS predicted
      FROM (SELECT doc_id, cls,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score_mb DESC, cls ASC)
                     AS rn
            FROM scored)
      WHERE rn = 1)
    SELECT d.source AS actual, p.predicted,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents d JOIN pred p USING (doc_id)
    GROUP BY 1, 2
    """,
    doc="Multinomial Naive Bayes SOURCE classifier trained and applied "
    "as one plan (the fastText-classifier baseline of a curation "
    "pipeline, re-expressed relationally — McCallum & Nigam 1998): "
    "train = per-(class, token) counts + class priors; apply = "
    "argmax_s[log P(s) + sum_t tf*log P(t|s)] with Laplace add-1, so "
    "every log2 argument is an EXACT INTEGER (c_st+1, N_s+V, doc "
    "counts) and each contribution rounds to millibits before the "
    "integer sum — the argmax (tie -> class asc) is engine-exact. "
    "Output is the source confusion matrix. Scale: the model IS two "
    "small frames (class-token counts = vocab x classes, class stats "
    "= classes) — both broadcast; scoring is one map-side expansion "
    "of the (doc, token) tf frame by the bounded class count, then a "
    "keyed (doc, class) partial agg; nothing corpus-sized shuffles "
    "twice and the corpus never collects.",
    tags=("text", "pipeline"),
)
def text_naive_bayes_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from utility_service_areas_spark.functions.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("t")
    )
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    class_tok = tok.groupBy(F.col("source").alias("cls"), "t").agg(
        F.count(F.lit(1)).alias("c_st")
    )
    class_stats = tok.groupBy(F.col("source").alias("cls")).agg(
        F.count(F.lit(1)).alias("n_s")
    )
    class_prior = docs.groupBy(F.col("source").alias("cls")).agg(
        F.count(F.lit(1)).alias("n_docs_s")
    )
    corpus = tok.agg(
        F.countDistinct("t").alias("v")
    ).crossJoin(docs.agg(F.count(F.lit(1)).alias("n_docs")))

    contrib = (
        tf.crossJoin(F.broadcast(class_stats))
        .crossJoin(F.broadcast(corpus))
        .join(F.broadcast(class_tok), ["cls", "t"], "left")
        .select(
            "doc_id",
            "cls",
            F.round(
                F.col("tf")
                * (
                    F.log2(F.coalesce(F.col("c_st"), F.lit(0)) + 1)
                    - F.log2(F.col("n_s") + F.col("v"))
                )
                * 1000
            )
            .cast("long")
            .alias("mb"),
        )
    )
    scored = (
        contrib.groupBy("doc_id", "cls")
        .agg(F.sum("mb").alias("sum_mb"))
        .join(F.broadcast(class_prior), "cls")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            "cls",
            (
                F.col("sum_mb")
                + F.round(
                    (F.log2(F.col("n_docs_s")) - F.log2(F.col("n_docs"))) * 1000
                ).cast("long")
            ).alias("score_mb"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_mb").desc(), F.col("cls").asc()
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cls").alias("predicted"))
    )
    return (
        docs.select("doc_id", F.col("source").alias("actual"))
        .join(pred, "doc_id")
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


@query(
    "source_kl_drift",
    oracle=rf"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS t FROM documents),
    st AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c_st
           FROM tok GROUP BY 1, 2),
    ct AS (SELECT t, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY t),
    ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
           FROM st GROUP BY source),
    tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM ct),
    terms AS (
      SELECT st.source,
             CAST(round(1000 * st.c_st * (log2(st.c_st * tot.n)
                                          - log2(ct.c_t * ns.n_s)))
                  AS BIGINT) AS mb
      FROM st
      JOIN ct ON ct.t = st.t
      JOIN ns ON ns.source = st.source
      CROSS JOIN tot)
    SELECT t.source, ns.n_s AS n_tokens,
           CAST(floor(CAST(sum(t.mb) AS BIGINT) * 1.0 / ns.n_s + 0.5)
                AS BIGINT) AS kl_millibits
    FROM terms t JOIN ns ON ns.source = t.source
    GROUP BY t.source, ns.n_s
    """,
    doc="Per-source KL divergence from the corpus token distribution, "
    "in millibits: KL(P_s || P) = sum_t (c_st/N_s) * log2(p_s/p) with "
    "the log factored to log2(c_st * N) - log2(c_t * N_s) — BOTH "
    "arguments exact integers (< 2^53, so the doubles are exact and "
    "cross-engine log2 agrees; the #89 posture), each term rounded "
    "to millibits BEFORE the per-source integer sum, one final IEEE "
    "division by N_s. The MIXTURE-DRIFT thermometer completing the "
    "source-diagnostics family: #224's entropy says how diverse a "
    "source is, #189 tracks its length drift, THIS says how far its "
    "vocabulary sits from the corpus average — the signal that "
    "catches a crawler feeding boilerplate or a source pivoting "
    "domains between snapshots. Scale: one (source,t) partial-agg "
    "shuffle (vocab x sources), token-dim and source-dim side "
    "frames, one source-sized final agg — nothing corpus-sized "
    "beyond the first tokenize pass.",
    tags=("text", "pipeline"),
)
def source_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.functions.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("t"))
    st = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c_st"))
    ct = st.groupBy("t").agg(F.sum("c_st").alias("c_t"))
    ns = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    tot = ct.agg(F.sum("c_t").alias("n"))
    terms = (
        st.join(F.broadcast(ct), "t")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.round(
                1000
                * F.col("c_st")
                * (
                    F.log2(F.col("c_st") * F.col("n"))
                    - F.log2(F.col("c_t") * F.col("n_s"))
                )
            )
            .cast("long")
            .alias("mb"),
        )
    )
    return (
        terms.groupBy("source")
        .agg(F.sum("mb").alias("sum_mb"))
        .join(F.broadcast(ns), "source")
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_tokens"),
            F.floor(F.col("sum_mb") * 1.0 / F.col("n_s") + 0.5)
            .cast("long")
            .alias("kl_millibits"),
        )
    )


# Preference-pair mining (#250) and curriculum ordering (#251): the
# two dataset-construction stages between scoring and training.
_QUALITY_SQL_CTE = rf"""
    qscore AS (
      SELECT doc_id, source,
             CAST(floor((0.4 * (alpha / chars)
                       + 0.3 * least(1.0, n_tok / 100.0)
                       + 0.3 * (n_distinct / greatest(n_tok, 1.0)))
                        * 1000000 + 0.5) AS BIGINT) AS q
      FROM (
        SELECT doc_id, source,
               CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                    AS DOUBLE) AS alpha,
               CAST(greatest(length(text), 1) AS DOUBLE) AS chars,
               CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
               CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS n_distinct
        FROM documents))"""


@query(
    "quality_pair_mining",
    oracle=rf"""
    WITH {_QUALITY_SQL_CTE},
    ranked AS (
      SELECT doc_id, source, q,
             row_number() OVER (PARTITION BY source
                                ORDER BY q DESC, doc_id ASC) AS rbest,
             row_number() OVER (PARTITION BY source
                                ORDER BY q ASC, doc_id ASC) AS rworst
      FROM qscore),
    best AS (SELECT source, doc_id AS chosen_doc_id, q AS chosen_q
             FROM ranked WHERE rbest = 1),
    worst AS (SELECT source, doc_id AS rejected_doc_id, q AS rejected_q
              FROM ranked WHERE rworst = 1)
    SELECT b.source, chosen_doc_id, rejected_doc_id,
           CAST(chosen_q - rejected_q AS BIGINT) AS margin_micros
    FROM best b JOIN worst w ON w.source = b.source
    WHERE chosen_q - rejected_q > 0
    """,
    doc="Preference-pair mining — the DPO/RLHF dataset-construction "
    "stage (Rafailov et al. 2023's data shape): per group (source "
    "stands in for the prompt), pair the highest-quality document "
    "(chosen) with the lowest (rejected) using #34's composite score, "
    "keep pairs with strictly positive margin (an all-equal group "
    "yields NO pair, not a degenerate one — pinned). Ties break to "
    "the smaller doc_id on BOTH ends, so the pair is a pure function "
    "of the corpus. Scale: the score is one map-side expression; "
    "chosen/rejected are two keyed top-1 windows that compile to the "
    "WindowGroupLimit pushdown — no global sort, group-sized state.",
    tags=("text", "pipeline"),
)
def quality_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        quality_score_micros(F.col("text")).alias("q"),
    )
    wb = Window.partitionBy("source").orderBy(
        F.col("q").desc(), F.col("doc_id").asc()
    )
    ww = Window.partitionBy("source").orderBy(
        F.col("q").asc(), F.col("doc_id").asc()
    )
    ranked = scored.select(
        "doc_id",
        "source",
        "q",
        F.row_number().over(wb).alias("rbest"),
        F.row_number().over(ww).alias("rworst"),
    )
    best = ranked.filter(F.col("rbest") == 1).select(
        "source",
        F.col("doc_id").alias("chosen_doc_id"),
        F.col("q").alias("chosen_q"),
    )
    worst = ranked.filter(F.col("rworst") == 1).select(
        "source",
        F.col("doc_id").alias("rejected_doc_id"),
        F.col("q").alias("rejected_q"),
    )
    return (
        best.join(worst, "source")
        .filter(F.col("chosen_q") - F.col("rejected_q") > 0)
        .select(
            "source",
            "chosen_doc_id",
            "rejected_doc_id",
            (F.col("chosen_q") - F.col("rejected_q"))
            .cast("long")
            .alias("margin_micros"),
        )
    )


@query(
    "docs_curriculum_rank",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok FROM documents)
    SELECT doc_id, n_tok,
           CAST(row_number() OVER (ORDER BY n_tok ASC, doc_id ASC)
                AS BIGINT) AS curriculum_rank
    FROM toks
    """,
    doc="Curriculum ordering: every document's GLOBAL ordinal under "
    "shortest-first (n_tokens asc, doc_id asc) — the length-based "
    "curriculum schedule (Bengio et al. 2009) a training pipeline "
    "feeds its sampler — computed WITHOUT a global sort: phase 1 "
    "partial-aggs the token-count histogram (bounded by max sequence "
    "length, NOT corpus size — a curriculum key is always a small "
    "discrete domain), phase 2 turns it into per-value rank offsets "
    "(one histogram-sized window), phase 3 adds a row_number KEYED by "
    "token count (tiebreak doc_id). The oracle ranks with one global "
    "window — DuckDB is the referee, not the scale model; equality IS "
    "the no-sort claim (the #247 posture applied to ranking).",
    tags=("text", "pipeline"),
)
def docs_curriculum_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from utility_service_areas_spark.functions.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tok")
    )
    hist = toks.groupBy("n_tok").agg(F.count(F.lit(1)).alias("c"))
    wh = Window.orderBy("n_tok").rowsBetween(Window.unboundedPreceding, -1)
    offsets = hist.select(
        "n_tok", F.coalesce(F.sum("c").over(wh), F.lit(0)).alias("offset")
    )
    wk = Window.partitionBy("n_tok").orderBy(F.col("doc_id").asc())
    return (
        toks.join(F.broadcast(offsets), "n_tok")
        .select(
            "doc_id",
            "n_tok",
            (F.col("offset") + F.row_number().over(wk))
            .cast("long")
            .alias("curriculum_rank"),
        )
    )


# Vocabulary budget sweep (#256): coverage of top-K types per K.
_VOCAB_KS = (16, 64, 256, 1024)


@query(
    "vocab_coverage_sweep",
    oracle=rf"""
    WITH tok AS (SELECT unnest({_TOKS}) AS t FROM documents),
    types AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
    hist AS (SELECT c, CAST(count(*) AS BIGINT) AS m FROM types GROUP BY c),
    runs AS (
      SELECT c, m,
             CAST(coalesce(sum(m) OVER (ORDER BY c DESC
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS BIGINT) AS s
      FROM hist),
    tot AS (SELECT CAST(sum(c * m) AS BIGINT) AS total,
                   CAST(sum(m) AS BIGINT) AS n_types FROM hist),
    ks AS (SELECT unnest([{", ".join(str(k) for k in _VOCAB_KS)}])
             AS vocab_k),
    cov AS (
      SELECT ks.vocab_k,
             CAST(sum(CASE WHEN r.s + r.m <= ks.vocab_k THEN r.c * r.m
                           WHEN r.s < ks.vocab_k
                             THEN r.c * (ks.vocab_k - r.s)
                           ELSE 0 END) AS BIGINT) AS covered
      FROM ks CROSS JOIN runs r GROUP BY ks.vocab_k)
    SELECT CAST(vocab_k AS BIGINT) AS vocab_k,
           covered AS covered_tokens, tot.total AS total_tokens,
           CAST(floor(CAST(covered AS DOUBLE) * 1000000 / tot.total + 0.5)
                AS BIGINT) AS coverage_micros
    FROM cov CROSS JOIN tot
    """,
    doc="Vocabulary-budget sweep: corpus token coverage of the top-K "
    "most frequent types for K in (16, 64, 256, 1024) — the curve a "
    "tokenizer team reads to pick its vocab size (complements #171's "
    "fixed top-512 coverage and #209's BPE sweep) — computed with "
    "ZERO type-level windows: type counts collapse into the count "
    "HISTOGRAM, a histogram-sized descending cumulative gives each "
    "tied run its rank interval [s, s+m), and top-K coverage is full "
    "runs + c·(K−s) for the run K splits — value-exact regardless of "
    "tie order, because tied types are interchangeable by "
    "construction (the #253 Gini factoring applied to ranking from "
    "the top). One tokenize pass, one (t) partial agg, then every "
    "frame is histogram-sized.",
    tags=("text", "pipeline"),
)
def vocab_coverage_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from utility_service_areas_spark.functions.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("t"))
    types = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    hist = types.groupBy("c").agg(F.count(F.lit(1)).alias("m"))
    wh = Window.orderBy(F.col("c").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    runs = hist.withColumn("s", F.coalesce(F.sum("m").over(wh), F.lit(0)))
    tot = hist.agg(
        F.sum(F.col("c") * F.col("m")).alias("total"),
        F.sum("m").alias("n_types"),
    )
    ks = local_df(spark, [(k,) for k in _VOCAB_KS], "vocab_k long")
    covered = F.sum(
        F.when(
            F.col("s") + F.col("m") <= F.col("vocab_k"),
            F.col("c") * F.col("m"),
        )
        .when(
            F.col("s") < F.col("vocab_k"),
            F.col("c") * (F.col("vocab_k") - F.col("s")),
        )
        .otherwise(F.lit(0))
    )
    cov = (
        ks.crossJoin(F.broadcast(runs))
        .groupBy("vocab_k")
        .agg(covered.alias("covered"))
    )
    return cov.crossJoin(F.broadcast(tot)).select(
        F.col("vocab_k").cast("long").alias("vocab_k"),
        F.col("covered").cast("long").alias("covered_tokens"),
        F.col("total").cast("long").alias("total_tokens"),
        F.floor(
            F.col("covered").cast("double") * 1_000_000 / F.col("total") + 0.5
        )
        .cast("long")
        .alias("coverage_micros"),
    )


@query(
    "corpus_heaps_fit",
    oracle=rf"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS t FROM documents),
    pts AS (
      SELECT source,
             CAST(round(1000 * log2(count(*))) AS BIGINT) AS x_mb,
             CAST(round(1000 * log2(count(DISTINCT t))) AS BIGINT) AS y_mb
      FROM tok GROUP BY source),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x_mb) AS BIGINT) AS sx,
             CAST(sum(y_mb) AS BIGINT) AS sy,
             CAST(sum(x_mb * y_mb) AS BIGINT) AS sxy,
             CAST(sum(x_mb * x_mb) AS BIGINT) AS sxx
      FROM pts)
    SELECT n AS n_points,
           CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000)
                AS BIGINT) AS beta_micros,
           CAST(round((CAST(sy AS DOUBLE)
                       - (CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE))
                         * CAST(sx AS DOUBLE)) / n) AS BIGINT)
             AS log2k_millibits
    FROM s
    """,
    doc="Heaps'-law fit (V = k·N^beta — vocabulary growth vs corpus "
    "size, Heaps 1978): each SOURCE contributes one (log2 N_s, "
    "log2 V_s) point, quantized to integer MILLIBITS (log2 args are "
    "exact integer counts, the #89 posture), then beta/log2k come "
    "from the #231 OLS shape over the 20 integer points — every sum "
    "a BIGINT, two mirrored IEEE divisions at the end. The "
    "capacity-planning twin of #230's Zipf fit: Zipf says how token "
    "MASS concentrates, Heaps says how fast the VOCABULARY a "
    "tokenizer/dictionary must hold grows with corpus scale "
    "(beta~0.5 = sublinear; near 1 = vocabulary explosion, a "
    "crawler-garbage signal). One tokenize pass + one (source, t)-"
    "level distinct agg; the fit runs on a source-sized frame.",
    tags=("text", "pipeline"),
)
def corpus_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.functions.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("t"))
    pts = tok.groupBy("source").agg(
        F.round(1000 * F.log2(F.count(F.lit(1)))).cast("long").alias("x_mb"),
        F.round(1000 * F.log2(F.countDistinct("t")))
        .cast("long")
        .alias("y_mb"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x_mb").alias("sx"),
        F.sum("y_mb").alias("sy"),
        F.sum(F.col("x_mb") * F.col("y_mb")).alias("sxy"),
        F.sum(F.col("x_mb") * F.col("x_mb")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    return s.select(
        F.col("n").cast("long").alias("n_points"),
        F.round(slope * 1_000_000).cast("long").alias("beta_micros"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n")
        )
        .cast("long")
        .alias("log2k_millibits"),
    )
