"""LLM training-data pipeline queries (SURVEY.md §2.4 extension):
chunking, sequence packing, PII redaction, benchmark-contamination
checks, and C4-style block-level dedup — the operators a 100 TB
curation pipeline runs between raw ingest and tokenization.

All pure JVM expressions (split/slice/sequence/md5/regexp — no Python
in any hot path); every query is DuckDB-oracle-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from utility_service_areas_spark.plans import ORACLE_POS_CAP
from utility_service_areas_spark.plans.registry import query
from utility_service_areas_spark.sources.tables import load_table
from utility_service_areas_spark.operators.localrel import local_df

_TOKS = r"string_split_regex(trim(text, ' '), '[ \t\n\x0b\f\r]+')"

# Chunk geometry: 32-token windows advancing by a 24-token stride
# (8-token overlap), the standard long-document → context-window split.
_CHUNK, _STRIDE = 32, 24


@query(
    "docs_chunk_split",
    oracle=rf"""
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(toks, i * {_STRIDE} + 1,
                               i * {_STRIDE} + {_CHUNK})) AS BIGINT)
               AS n_chunk_tokens,
           md5(array_to_string(
               list_slice(toks, i * {_STRIDE} + 1, i * {_STRIDE} + {_CHUNK}),
               ' ')) AS chunk_md5
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents),
         unnest(range(64)) AS t(i)
    WHERE i * {_STRIDE} < len(toks)
    """,
    doc="Document → overlapping context-window chunks (32-token "
    "windows, 24-token stride). Spark: split once, explode a "
    "`sequence` of chunk starts, `slice` per chunk — all codegen, no "
    "UDF, no shuffle (map-only: each doc expands in place). At 100 TB "
    "the expansion factor is bounded by stride/window choice, never "
    "by a join.",
    tags=("pipeline", "text"),
)
def docs_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"[ \t\n\x0b\f\r]+")
    n_chunks = F.floor((F.size("toks") - F.lit(1)) / _STRIDE) + 1
    chunk = F.slice(F.col("toks"), F.col("chunk_idx") * _STRIDE + 1, _CHUNK)
    return (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long"),
            F.size(chunk).cast("long").alias("n_chunk_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
        )
    )


@query(
    "docs_pack_sequences",
    oracle=rf"""
    WITH sized AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % 8
                 AS shard,
             len({_TOKS}) AS n_tok
      FROM documents),
    packed AS (
      SELECT doc_id, shard, n_tok,
             sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tok AS start_off
      FROM sized)
    SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           CAST(n_tok AS BIGINT) AS n_tok,
           CAST(start_off // 2048 AS BIGINT) AS seq_idx,
           CAST(start_off % 2048 AS BIGINT) AS seq_offset
    FROM packed
    """,
    doc="Sequence packing for training (concat-and-split): docs are "
    "sharded by an md5 hash bucket, concatenated in deterministic "
    "doc_id order within each shard, and split into 2048-token "
    "training sequences — each doc gets (shard, seq_idx, offset). ONE "
    "window pass per shard; shards are the parallelism unit, so the "
    "running sum never funnels into a single reducer (at 100 TB raise "
    "the shard count, same plan).",
    tags=("pipeline", "text"),
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("long")
        % 8
    )
    n_tok = F.size(F.split(F.trim(F.col("text")), r"[ \t\n\x0b\f\r]+"))
    sized = docs.select(
        "doc_id", shard.alias("shard"), n_tok.cast("long").alias("n_tok")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.withColumn("start_off", F.sum("n_tok").over(w) - F.col("n_tok"))
    return packed.select(
        "doc_id",
        F.col("shard").cast("long"),
        "n_tok",
        F.floor(F.col("start_off") / 2048).cast("long").alias("seq_idx"),
        (F.col("start_off") % 2048).cast("long").alias("seq_offset"),
    )


# PII patterns chosen to parse identically under Java regex (Spark) and
# RE2 (DuckDB): plain character classes, no lookaround.
_RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_RE_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_RE_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


@query(
    "text_redact_pii",
    oracle=rf"""
    WITH synth AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com at 10.0.'
                  || doc_id % 256 || '.' || doc_id % 100 || ' or 907-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_RE_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(
               regexp_replace(t, '{_RE_EMAIL}', '<EMAIL>', 'g'), '{_RE_IP}'))
               AS BIGINT) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(
               t, '{_RE_EMAIL}', '<EMAIL>', 'g'),
                  '{_RE_IP}', '<IP>', 'g'),
                  '{_RE_PHONE}', '<PHONE>', 'g') AS redacted
    FROM synth
    """,
    doc="PII redaction (emails, IPv4, phone numbers) — the compliance "
    "stage of a training-data pipeline. Deterministic synthetic PII is "
    "appended per row (the substrate has none), then removed by a "
    "codegen regexp_replace chain; counts are emitted so a 100 TB run "
    "can audit redaction volume per source. Map-only, no shuffle, no "
    "UDF. IP matching runs on the email-redacted text so an address's "
    "host part is never double-counted.",
    tags=("pipeline", "text"),
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(" or 907-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    no_email = F.regexp_replace(synth, _RE_EMAIL, "<EMAIL>")
    no_ip = F.regexp_replace(no_email, _RE_IP, "<IP>")
    redacted = F.regexp_replace(no_ip, _RE_PHONE, "<PHONE>")
    return docs.select(
        "doc_id",
        F.regexp_count(synth, F.lit(_RE_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(no_email, F.lit(_RE_IP)).cast("long").alias("n_ips"),
        redacted.alias("redacted"),
    )


@query(
    "docs_benchmark_overlap",
    oracle=rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    grams AS (
      SELECT doc_id,
             array_to_string(list_slice(toks, i + 1, i + 4), ' ') AS gram
      FROM toks, unnest(range(128)) AS t(i)
      WHERE i + 4 <= len(toks)),
    bench AS (
      SELECT DISTINCT doc_id AS bench_id, gram FROM grams
      WHERE doc_id % 97 = 0)
    SELECT g.doc_id,
           count(DISTINCT g.gram) AS n_shared_grams,
           count(DISTINCT b.bench_id) AS n_bench_docs
    FROM grams g JOIN bench b ON b.gram = g.gram
    WHERE g.doc_id % 97 <> 0
    GROUP BY g.doc_id
    """,
    doc="Benchmark-contamination check: flags corpus documents sharing "
    "any word 4-gram with a held-out benchmark set (here doc_id%97=0, "
    "standing in for an eval suite). The benchmark gram set is tiny "
    "by construction → broadcast build side; corpus grams stream "
    "through map-side and only matching grams reach the per-doc agg. "
    "At 100 TB the corpus is never self-joined and never shuffled on "
    "the gram key.",
    tags=("pipeline", "text"),
)
def docs_benchmark_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"[ \t\n\x0b\f\r]+")
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 4)
    grams = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.size("toks") - 4)).alias("i"),
        "toks",
    ).select(
        "doc_id",
        F.array_join(F.slice(F.col("toks"), F.col("i") + 1, 4), " ").alias("gram"),
    )
    bench = (
        grams.filter(F.col("doc_id") % 97 == 0)
        .select(F.col("doc_id").alias("bench_id"), "gram")
        .distinct()
    )
    return (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


@query(
    "docs_block_dedup",
    oracle=rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    blocks AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(toks, i * 10 + 1, i * 10 + 10), ' ')
                 AS block
      FROM toks, unnest(range(64)) AS t(i)
      WHERE i * 10 < len(toks)),
    ranked AS (
      SELECT doc_id, pos, block,
             row_number() OVER (PARTITION BY block ORDER BY doc_id, pos)
                 AS rn
      FROM blocks)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(array_to_string(
               list(CASE WHEN rn = 1 THEN block END ORDER BY pos)
                   FILTER (rn = 1), ' ')) AS rebuilt_md5
    FROM ranked
    GROUP BY doc_id
    """,
    doc="C4/RefinedWeb-style block-level dedup: documents split into "
    "10-token blocks, each block kept only at its globally-first "
    "occurrence (ordered by doc_id, then position), documents rebuilt "
    "from surviving blocks. One shuffle on the block text (the dedup "
    "key), one on doc_id to rebuild — block keys are md5-groupable so "
    "a hot block (boilerplate) is one reducer key with count state, "
    "never a collected list.",
    tags=("pipeline", "text"),
)
def docs_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"[ \t\n\x0b\f\r]+")
    n_blocks = F.floor((F.size("toks") - F.lit(1)) / 10) + 1
    block = F.array_join(F.slice(F.col("toks"), F.col("pos") * 10 + 1, 10), " ")
    blocks = (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), n_blocks - 1)).alias("pos"),
        )
        .select("doc_id", "pos", block.alias("block"))
    )
    w = Window.partitionBy("block").orderBy("doc_id", "pos")
    ranked = blocks.withColumn("rn", F.row_number().over(w))
    kept_join = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("rn") == 1, F.struct("pos", "block"))
                )
            ),
            lambda s: s["block"],
        ),
        " ",
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.when(
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)) > 0, F.md5(kept_join)
        ).alias("rebuilt_md5"),
    )


@query(
    "reservoir_sample_docs",
    oracle="""
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents)
    WHERE rk <= 20
    """,
    doc="Exact-k uniform sample per stratum (reservoir-sampling "
    "semantics, RNG-free): bottom-k by a salted content-independent "
    "hash == a uniform k-reservoir, but deterministic and re-runnable "
    "— the property a training-data pipeline needs for reproducible "
    "corpus draws. Complements stratified_sample (Bernoulli, "
    "fraction-based): this one guarantees exactly k per group. One "
    "shuffle on the stratum key; at 100 TB swap row_number for a "
    "per-partition top-k heap + merge (same result, bounded memory) "
    "— the hash ordering makes that refactor a pure plan change.",
    tags=("pipeline",),
)
def reservoir_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "lang")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .withColumn("rk", F.col("rk").cast("long"))
    )


_QUOTA_K = 40  # per-domain document quota
_QUOTA_SALT = 64  # phase-1 fan-out for the hot-domain top-K


@query(
    "domain_quota_sample",
    oracle=f"""
    SELECT doc_id, source, samp_rank FROM (
      SELECT doc_id, source,
             CAST(row_number() OVER (
                    PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                  AS BIGINT) AS samp_rank
      FROM documents)
    WHERE samp_rank <= {_QUOTA_K}
    """,
    doc="Per-domain quota sampling: keep at most K documents per "
    "source, chosen by a content-independent salted hash (bottom-k by "
    "md5(doc_id) == a deterministic uniform reservoir) — the standard "
    "anti-domination step before mixing web domains into a training "
    "corpus. Exact top-K without a hot-domain bottleneck: phase 1 "
    f"takes the per-(source, salt-bucket) top-{_QUOTA_K} across "
    f"{_QUOTA_SALT} buckets in parallel (any global top-K row is "
    "top-K within its bucket, so no candidate is lost), phase 2 "
    f"re-ranks the <= {_QUOTA_SALT}*{_QUOTA_K} survivors per source. "
    "A 1B-doc hot domain costs one reducer only ~2.5k rows instead "
    "of 1B — the two-phase shape IS the 100 TB plan.",
    tags=("pipeline",),
)
def domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    salted = docs.withColumn(
        "rk", F.md5(F.col("doc_id").cast("string"))
    ).withColumn("s", F.pmod(F.hash("doc_id"), F.lit(_QUOTA_SALT)))
    w1 = Window.partitionBy("source", "s").orderBy("rk", "doc_id")
    pre = (
        salted.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= _QUOTA_K)
    )
    w2 = Window.partitionBy("source").orderBy("rk", "doc_id")
    return (
        pre.withColumn("samp_rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("samp_rank") <= _QUOTA_K)
        .select("doc_id", "source", "samp_rank")
    )


_SPAN = 8  # tokens per span (exact-substring dedup granularity)


@query(
    "dedup_exact_substring",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
    spans AS (SELECT DISTINCT doc_id,
                     md5(array_to_string(
                         list_slice(ts, i, i + {_SPAN - 1}), ' ')) AS h
              FROM toks,
                   unnest(CASE WHEN len(ts) >= {_SPAN}
                               THEN generate_series(1, len(ts) - {_SPAN - 1})
                               ELSE [] END) AS t(i)),
    cnt AS (SELECT h, count(*) AS nd FROM spans GROUP BY 1),
    per AS (SELECT s.doc_id, count(*) AS ns,
                   sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS nsh
            FROM spans s JOIN cnt c USING (h) GROUP BY 1)
    SELECT d.doc_id,
           CAST(coalesce(p.ns, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(p.nsh, 0) AS BIGINT) AS n_shared_spans
    FROM documents d LEFT JOIN per p USING (doc_id)
    """,
    doc=f"Exact-substring (span-level) dedup signal: every {_SPAN}-token "
    "sliding window is hashed, and each document reports how many of "
    "its distinct spans also occur in at least one OTHER document — "
    "the shuffle-native stand-in for suffix-array substring dedup "
    "(Lee et al., 'Deduplicating Training Data Makes Language Models "
    "Better'): a doc with a high shared-span ratio embeds boilerplate "
    "or copied passages even when no whole-doc hash matches. Spans "
    "are md5(8-token window) — map-side expansion, then two linear "
    "shuffles (distinct span-per-doc, span-frequency count) and a "
    "hash join back; a span repeated in a billion docs contributes "
    "one counter row, never a pair explosion. Two restructures were "
    "MEASURED AND REJECTED r8 (BENCH_TREND): per-doc dedup via "
    "array_distinct(transform(... md5 ...)) — higher-order-function "
    "lambdas evaluate interpreted, vs whole-stage codegen for the "
    "explode+md5 stream (4.8 -> 12.0 s base, 9.9 -> 87.9 s at 10x) — "
    "and a counting-bloom singleton prune before the frequency "
    "shuffle, exact but slower at every measured scale because its "
    "extra span pass outweighs the pruned shuffle (base substrate 91% "
    "singleton spans, 10x replica substrate 1.7%).",
    tags=("pipeline", "dedup"),
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.dedup import lineage_cut

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"[ \t\n\x0b\f\r]+")
    starts = F.expr(
        f"CASE WHEN size(toks) >= {_SPAN} "
        f"THEN sequence(1, size(toks) - {_SPAN - 1}) "
        "ELSE CAST(array() AS array<int>) END"
    )
    spans = (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.explode(starts).alias("i"))
        .select(
            "doc_id",
            F.md5(F.array_join(F.slice("toks", F.col("i"), _SPAN), " ")).alias("h"),
        )
        .distinct()
    )
    # The distinct span frame feeds BOTH the frequency count and the
    # per-doc rollup; Catalyst does not reuse the subtree, so without
    # the cut the span Generate AND its distinct shuffle ran twice (r17
    # — executed plan had 2 Generates + 2 full span-stream Exchanges).
    # Joining against only the REPEATED spans (nd >= 2) instead of
    # every distinct span's count also shrinks the build side ~10x (91%
    # of spans are singletons on the base substrate): membership is the
    # only thing the rollup needs, so nsh = count of spans with a match.
    spans = lineage_cut(spans)
    rep = (
        spans.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("shared"))
    )
    per = (
        spans.join(rep, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("ns"),
            F.sum(F.coalesce(F.col("shared"), F.lit(0))).alias("nsh"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("ns"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("nsh"), F.lit(0)).cast("long").alias("n_shared_spans"),
        )
    )



_SHARD_BUDGET = 16384  # bytes per output shard (test-scale sizing)


@query(
    "docs_shard_manifest",
    oracle=f"""
    WITH tot AS (
      SELECT CAST((sum(n_chars) + {_SHARD_BUDGET - 1}) // {_SHARD_BUDGET}
                  AS BIGINT) AS n_shards
      FROM documents),
    assign AS (
      SELECT doc_id, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % n_shards AS shard_id
      FROM documents, tot)
    SELECT shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_bytes,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id,
           CAST(floor(sum(n_chars) * 1000000.0 / {_SHARD_BUDGET} + 0.5)
                AS BIGINT) AS fill_micros
    FROM assign GROUP BY shard_id
    """,
    doc="WebDataset-style shard manifest: pick the shard count from "
    "the corpus byte total (ceil(total/budget), a 1-row broadcast), "
    "assign every document to a shard by a content-independent md5 "
    "hash of its id, and emit the per-shard manifest (docs, bytes, "
    "id range, fill ratio) a training loader consumes. Deterministic "
    "hash sharding IS the 100 TB plan — strict sequential bin-packing "
    "needs a global running sum (one reducer orders the corpus), "
    "while hash assignment is map-side with a Chernoff-tight fill "
    "spread at realistic shard sizes; the manifest doubles as the "
    "skew check. One scan + a 1-row broadcast + one partial-agg "
    "shuffle keyed by shard.",
    tags=("pipeline",),
)
def docs_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    tot = docs.agg(
        F.expr(
            f"CAST((sum(n_chars) + {_SHARD_BUDGET - 1}) DIV {_SHARD_BUDGET} "
            "AS BIGINT) AS n_shards"
        )
    )
    assign = docs.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_chars",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
            ).cast("long")
            % F.col("n_shards")
        ).alias("shard_id"),
    )
    return assign.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_bytes"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.floor(F.sum("n_chars") * 1000000.0 / _SHARD_BUDGET + 0.5)
        .cast("long")
        .alias("fill_micros"),
    )


_CDC_MOD = 16  # expected chunk length in tokens (boundary probability)


@query(
    "docs_cdc_chunks",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
    pos AS (SELECT doc_id, i, ts[i] AS tok
            FROM toks, unnest(generate_series(1, len(ts))) AS t(i)),
    b AS (SELECT doc_id, i, tok,
                 CASE WHEN ('0x' || substr(md5(tok), 1, 15))::BIGINT
                           % {_CDC_MOD} = 0
                      THEN 1 ELSE 0 END AS f
          FROM pos),
    cid AS (SELECT doc_id, i, tok,
                   coalesce(sum(f) OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS chunk_id
            FROM b),
    chunks0 AS (SELECT doc_id,
                       md5(array_to_string(list(tok ORDER BY i), ' ')) AS h
                FROM cid GROUP BY doc_id, chunk_id),
    chunks AS (SELECT DISTINCT doc_id, h FROM chunks0),
    cnt AS (SELECT h, count(*) AS nd FROM chunks GROUP BY h),
    per AS (SELECT c.doc_id, count(*) AS nc,
                   sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS nsh
            FROM chunks c JOIN cnt USING (h) GROUP BY 1)
    SELECT d.doc_id,
           CAST(coalesce(nc, 0) AS BIGINT) AS n_chunks,
           CAST(coalesce(nsh, 0) AS BIGINT) AS n_shared_chunks,
           CAST(CASE WHEN coalesce(nc, 0) = 0 THEN 0
                     ELSE floor(coalesce(nsh, 0) * 1000000.0 / nc + 0.5)
                END AS BIGINT) AS shared_micros
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
    doc="Content-defined chunking dedup signal (the rsync/FastCDC "
    "family, as used for shift-robust LLM dataset dedup): a chunk "
    f"boundary falls AFTER any token whose md5 ≡ 0 mod {_CDC_MOD} "
    f"(expected chunk ≈ {_CDC_MOD} tokens), so boundaries depend on "
    "CONTENT, not position — insert one word into a doc and every "
    "chunk after it still re-aligns. dedup_exact_substring gets the "
    "same robustness from stride-1 sliding spans but pays ~one hash "
    "PER TOKEN; CDC pays one hash per ~16 tokens (non-overlapping "
    "chunks) for the same re-alignment property — the storage/"
    "robustness trade that made CDC the rsync/backup standard. Each "
    "doc "
    "reports its distinct-chunk count and how many chunks also "
    "occur in another doc. Scale shape: the chunk-id running sum is "
    "a PER-DOC window (bounded by document length, never a hot "
    "corpus key); then the same two linear shuffles as "
    "exact-substring (distinct chunk-per-doc, chunk-frequency "
    "count) and a hash join back — a chunk repeated in a billion "
    "docs is one counter row, never a pair explosion.",
    tags=("pipeline", "dedup"),
)
def docs_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"[ \t\n\x0b\f\r]+")
    pos = docs.select("doc_id", F.posexplode(toks).alias("i0", "tok")).select(
        "doc_id", (F.col("i0") + 1).alias("i"), "tok"
    )
    flag = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
        % _CDC_MOD
        == 0
    ).cast("int")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cid = pos.withColumn("f", flag).withColumn(
        "chunk_id", F.coalesce(F.sum("f").over(w), F.lit(0))
    )
    chunk_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "tok"))), lambda x: x["tok"]
        ),
        " ",
    )
    chunks = (
        cid.groupBy("doc_id", "chunk_id")
        .agg(F.md5(chunk_text).alias("h"))
        .select("doc_id", "h")
        .distinct()
    )
    cnt = chunks.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
    per = (
        chunks.join(cnt, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("nc"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("nsh"),
        )
    )
    nc = F.coalesce(F.col("nc"), F.lit(0))
    nsh = F.coalesce(F.col("nsh"), F.lit(0))
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            nc.cast("long").alias("n_chunks"),
            nsh.cast("long").alias("n_shared_chunks"),
            F.when(nc == 0, F.lit(0).cast("long"))
            .otherwise(F.floor(nsh * 1000000.0 / F.col("nc") + 0.5).cast("long"))
            .alias("shared_micros"),
        )
    )


# Cross-doc CDC guards: a chunk is a dedup SIGNAL only if it is long
# enough to be content (>= 2 tokens — single-token chunks like a lone
# "merge" are stopword boilerplate) and rare enough to be specific
# (shared by <= 16 docs — hotter chunks are template boilerplate, the
# CDC analogue of dropping top-frequency shingles in MinHash).
_CDC_MIN_TOKENS = 2
_CDC_HOT_CAP = 16


@query(
    "dedup_cdc_clusters",
    oracle=f"""
    WITH RECURSIVE toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
    pos AS (SELECT doc_id, i, ts[i] AS tok
            FROM toks, unnest(generate_series(1, len(ts))) AS t(i)),
    b AS (SELECT doc_id, i, tok,
                 CASE WHEN ('0x' || substr(md5(tok), 1, 15))::BIGINT
                           % {_CDC_MOD} = 0
                      THEN 1 ELSE 0 END AS f
          FROM pos),
    cid AS (SELECT doc_id, i, tok,
                   coalesce(sum(f) OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS chunk_id
            FROM b),
    chunks0 AS (SELECT doc_id,
                       md5(array_to_string(list(tok ORDER BY i), ' ')) AS h,
                       count(*) AS n_tok
                FROM cid GROUP BY doc_id, chunk_id),
    chunks AS (SELECT DISTINCT doc_id, h, n_tok FROM chunks0),
    elig AS (SELECT doc_id, h FROM chunks WHERE n_tok >= {_CDC_MIN_TOKENS}),
    rare AS (SELECT h, count(*) AS nd, min(doc_id) AS keeper
             FROM elig GROUP BY h
             HAVING count(*) BETWEEN 2 AND {_CDC_HOT_CAP}),
    pairs AS (SELECT DISTINCT r.keeper AS doc_a, e.doc_id AS doc_b
              FROM elig e JOIN rare r USING (h)
              WHERE e.doc_id <> r.keeper),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (SELECT a AS node, min(b) AS comp FROM reach GROUP BY a)
    SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS keeper_id,
           count(*) OVER (PARTITION BY coalesce(c.comp, d.doc_id))
             AS cluster_size
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
    doc="Cross-doc CDC chunk clusters — the dedup ENDGAME for the "
    "content-defined-chunking signal (docs_cdc_chunks reports the "
    "per-doc signal; this query resolves it to keep/drop groups): "
    "docs sharing any eligible chunk (>= 2 tokens, shared by 2-16 "
    "docs) are edges, resolved to connected components with the same "
    "iterative min-label operator dedup_clusters uses. Edges are "
    "STAR pairs (min-doc keeper per chunk -> every other holder), so "
    "a chunk shared by B docs emits O(B) edges, never O(B^2) "
    "combinations, and the hot cap bounds even that; connectivity is "
    "identical because the star spans the chunk's holder set. Scale "
    "shape: two linear shuffles (chunk distinct, chunk frequency) + "
    "a hash join + the CC loop over edges checkpointed "
    "pre-partitioned on the join key.",
    tags=("pipeline", "dedup", "graph"),
)
def dedup_cdc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"[ \t\n\x0b\f\r]+")
    pos = docs.select("doc_id", F.posexplode(toks).alias("i0", "tok")).select(
        "doc_id", (F.col("i0") + 1).alias("i"), "tok"
    )
    flag = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
        % _CDC_MOD
        == 0
    ).cast("int")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cid = pos.withColumn("f", flag).withColumn(
        "chunk_id", F.coalesce(F.sum("f").over(w), F.lit(0))
    )
    chunk_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "tok"))), lambda x: x["tok"]
        ),
        " ",
    )
    chunks = (
        cid.groupBy("doc_id", "chunk_id")
        .agg(F.md5(chunk_text).alias("h"), F.count(F.lit(1)).alias("n_tok"))
        .select("doc_id", "h", "n_tok")
        .distinct()
    )
    elig = chunks.filter(F.col("n_tok") >= _CDC_MIN_TOKENS).select("doc_id", "h")
    rare = (
        elig.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"), F.min("doc_id").alias("keeper"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= _CDC_HOT_CAP))
    )
    pairs = (
        elig.join(rare, "h")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select(F.col("keeper").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )
    return dedup_clusters(pairs, docs, "doc_id")


_PACK_SWEEP_LENS = (32, 64, 128)  # test-scale sizings of the 512-8192 lever


@query(
    "seq_len_packing_sweep",
    oracle=rf"""
    WITH sized AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % 8
                 AS shard,
             len({_TOKS}) AS n_tok
      FROM documents),
    l(seq_len) AS (VALUES {", ".join(f"({x})" for x in _PACK_SWEEP_LENS)}),
    per_doc AS (
      SELECT l.seq_len,
             sum(CASE WHEN s.n_tok > l.seq_len THEN 1 ELSE 0 END)
               AS n_docs_over,
             CAST(sum(CASE WHEN s.n_tok > l.seq_len
                      THEN s.n_tok - l.seq_len ELSE 0 END) AS BIGINT)
               AS tokens_truncated
      FROM sized s, l GROUP BY 1),
    per_shard AS (
      SELECT shard, CAST(sum(n_tok) AS BIGINT) AS tot FROM sized GROUP BY 1),
    tail AS (
      SELECT l.seq_len,
             CAST(sum((tot + l.seq_len - 1) // l.seq_len) AS BIGINT)
               AS n_sequences,
             CAST(sum((tot + l.seq_len - 1) // l.seq_len * l.seq_len - tot)
                  AS BIGINT) AS tail_waste_tokens
      FROM per_shard, l GROUP BY 1)
    SELECT l.seq_len, CAST(d.n_docs_over AS BIGINT) AS n_docs_over,
           d.tokens_truncated, t.n_sequences, t.tail_waste_tokens
    FROM l JOIN per_doc d USING (seq_len) JOIN tail t USING (seq_len)
    """,
    doc="Sequence-length cost sweep for the training packer: for each "
    "candidate length (test-scale {32,64,128}; production 512-8192, "
    "same lever) the two packing costs a data lead trades off — "
    "boundary-respecting truncation loss (docs over L and the tokens "
    "they lose) and the concat-split tail waste + sequence count per "
    "shard (the #104 packer's actual output sizing). All integer "
    "arithmetic (ceil-division as (t+L-1) div L both sides). Scale "
    "shape: ONE tokenize pass collapses to per-doc sizes; per-doc "
    "costs are a 3-row broadcast fan-out of the SIZES frame (doc-"
    "count rows, not corpus text); tail costs fold over 8 shard "
    "totals.",
    tags=("pipeline", "text"),
)
def seq_len_packing_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.dedup import lineage_cut

    docs = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("long")
        % 8
    )
    n_tok = F.size(F.split(F.trim(F.col("text")), r"[ \t\n\x0b\f\r]+"))
    sized = lineage_cut(
        docs.select(
            "doc_id", shard.alias("shard"), n_tok.cast("long").alias("n_tok")
        )
    )  # consumed by the per-doc AND per-shard branches
    lens = local_df(spark, 
        [(x,) for x in _PACK_SWEEP_LENS], "seq_len int"
    )
    per_doc = (
        sized.crossJoin(F.broadcast(lens))
        .groupBy("seq_len")
        .agg(
            F.sum(
                F.when(F.col("n_tok") > F.col("seq_len"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_docs_over"),
            F.sum(
                F.when(
                    F.col("n_tok") > F.col("seq_len"),
                    F.col("n_tok") - F.col("seq_len"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("tokens_truncated"),
        )
    )
    per_shard = sized.groupBy("shard").agg(F.sum("n_tok").alias("tot"))
    tail = (
        per_shard.crossJoin(F.broadcast(lens))
        .groupBy("seq_len")
        .agg(
            F.sum(F.expr("(tot + seq_len - 1) div seq_len"))
            .cast("long")
            .alias("n_sequences"),
            F.sum(
                F.expr("(tot + seq_len - 1) div seq_len * seq_len - tot")
            )
            .cast("long")
            .alias("tail_waste_tokens"),
        )
    )
    return lens.join(F.broadcast(per_doc), "seq_len").join(
        F.broadcast(tail), "seq_len"
    )


# ---------------------------------------------------------------------------
# Zone-map pruning audit (r11): the data-skipping study a lakehouse
# runs before committing a table layout — parquet/iceberg skip a file
# when the predicate range misses the file's (min, max) zone map, so
# pruning power is a property of the LAYOUT, not the format.

_ZM_HASH_SHARDS = 10  # hash layout width (docs_shard_manifest posture)
_ZM_BAND = 64  # range layout: shard = n_chars DIV band (map-side, no sort)
_ZM_PREDS = (  # (pred_id, lo, hi) closed n_chars ranges a reader filters by
    (1, 0, 99),
    (2, 100, 199),
    (3, 200, 399),
    (4, 400, 1 << 40),
)
_ZM_PRED_SQL = ", ".join(f"({i}, {lo}, {hi})" for i, lo, hi in _ZM_PREDS)


@query(
    "shard_zonemap_prune",
    oracle=f"""
    WITH assign AS (
      SELECT doc_id, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % {_ZM_HASH_SHARDS} AS hash_shard,
             n_chars // {_ZM_BAND} AS range_shard
      FROM documents),
    shards AS (
      SELECT 'hash' AS layout, hash_shard AS shard_id, n_chars FROM assign
      UNION ALL
      SELECT 'range' AS layout, range_shard AS shard_id, n_chars FROM assign),
    zones AS (
      SELECT layout, shard_id, min(n_chars) AS zmin, max(n_chars) AS zmax,
             count(*) AS n_docs
      FROM shards GROUP BY 1, 2),
    preds(pred_id, lo, hi) AS (VALUES {_ZM_PRED_SQL}),
    scan AS (
      SELECT z.layout, p.pred_id, p.lo, p.hi,
             count(*) AS n_shards,
             sum(CASE WHEN z.zmax < p.lo OR z.zmin > p.hi
                      THEN 0 ELSE 1 END) AS n_shards_scanned,
             sum(CASE WHEN z.zmax < p.lo OR z.zmin > p.hi
                      THEN 0 ELSE z.n_docs END) AS n_docs_scanned
      FROM zones z, preds p GROUP BY 1, 2, 3, 4),
    hits AS (
      SELECT p.pred_id, count(*) AS n_docs_matched
      FROM documents d JOIN preds p
        ON d.n_chars BETWEEN p.lo AND p.hi
      GROUP BY 1)
    SELECT s.layout, CAST(s.pred_id AS BIGINT) AS pred_id,
           CAST(s.lo AS BIGINT) AS lo_chars,
           CAST(s.hi AS BIGINT) AS hi_chars,
           CAST(s.n_shards AS BIGINT) AS n_shards,
           CAST(s.n_shards_scanned AS BIGINT) AS n_shards_scanned,
           CAST(s.n_docs_scanned AS BIGINT) AS n_docs_scanned,
           CAST(coalesce(h.n_docs_matched, 0) AS BIGINT) AS n_docs_matched
    FROM scan s LEFT JOIN hits h ON h.pred_id = s.pred_id
    """,
    doc="Zone-map (data-skipping) layout audit: assign every document "
    f"to a shard under TWO layouts in one pass — content-independent "
    f"hash (md5 % {_ZM_HASH_SHARDS}, #167's posture) vs value-range "
    f"banding (n_chars DIV {_ZM_BAND}: map-side range clustering, no "
    "global sort) — take each shard's (min, max) n_chars zone map, "
    "and for a literal predicate workload report how many shards and "
    "rows each layout actually scans vs how many rows match. The "
    "expected verdict IS the point: hash shards span the full value "
    "range (zero pruning), range shards prune to ~the matching band — "
    "the evidence table for a re-clustering decision, exactly how "
    "parquet row-group / Iceberg file skipping behaves. Scale shape: "
    "one corpus scan fans out to the two shard keys map-side; zone "
    "maps are ONE partial-agged shuffle bounded by shard counts; the "
    "predicate workload is a literal values-frame broadcast onto the "
    "shards-sized zones frame; true-match counts are one more "
    "broadcast-predicate pass over the same scan. All-integer output.",
    tags=("pipeline", "etl"),
)
def shard_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.plans.analytics_queries import _kmv_hash_col

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    assign = docs.select(
        "n_chars",
        (_kmv_hash_col("doc_id") % _ZM_HASH_SHARDS).alias("hash_shard"),
        F.expr(f"n_chars DIV {_ZM_BAND}").alias("range_shard"),
    )
    shards = assign.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("hash").alias("layout"),
                    F.col("hash_shard").alias("shard_id"),
                ),
                F.struct(
                    F.lit("range").alias("layout"),
                    F.col("range_shard").alias("shard_id"),
                ),
            )
        ).alias("s"),
        "n_chars",
    ).select("s.layout", "s.shard_id", "n_chars")
    zones = shards.groupBy("layout", "shard_id").agg(
        F.min("n_chars").alias("zmin"),
        F.max("n_chars").alias("zmax"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    preds = local_df(spark, 
        list(_ZM_PREDS), "pred_id long, lo long, hi long"
    )
    pruned = F.when(
        (F.col("zmax") < F.col("lo")) | (F.col("zmin") > F.col("hi")), 1
    ).otherwise(0)
    scan = (
        zones.crossJoin(F.broadcast(preds))
        .groupBy("layout", "pred_id", "lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shards"),
            F.sum(1 - pruned).cast("long").alias("n_shards_scanned"),
            F.sum(F.when(pruned == 1, 0).otherwise(F.col("n_docs")))
            .cast("long")
            .alias("n_docs_scanned"),
        )
    )
    hits = (
        docs.join(
            F.broadcast(preds),
            (F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")),
        )
        .groupBy("pred_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_matched"))
    )
    return (
        scan.join(F.broadcast(hits), "pred_id", "left")
        .na.fill({"n_docs_matched": 0})
        .select(
            "layout",
            F.col("pred_id").cast("long").alias("pred_id"),
            F.col("lo").cast("long").alias("lo_chars"),
            F.col("hi").cast("long").alias("hi_chars"),
            "n_shards",
            "n_shards_scanned",
            "n_docs_scanned",
            "n_docs_matched",
        )
    )


_SPLIT_BOUNDS = (80, 90)  # train < 80 <= valid < 90 <= test, of hv % 100


@query(
    "dataset_split_assign",
    oracle=f"""
    WITH a AS (
      SELECT lang, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 100 AS b
      FROM documents)
    SELECT CASE WHEN b < {_SPLIT_BOUNDS[0]} THEN 'train'
                WHEN b < {_SPLIT_BOUNDS[1]} THEN 'valid'
                ELSE 'test' END AS split,
           lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM a GROUP BY 1, 2
    """,
    doc="Deterministic train/valid/test assignment (80/10/10) by the "
    "md5 integer-hash seam on doc_id, with the per-(split, lang) "
    "manifest a training run records before touching the data. "
    "Hashing the STABLE id — never random(), never row position — is "
    "the property that matters at 100 TB: the split is reproducible "
    "across reruns, engines (the DuckDB oracle replays it exactly), "
    "partitionings, and incremental ingests (a new document never "
    "moves an old one between splits, unlike modulo-on-row-number "
    "schemes). Scale shape: assignment is a pure map-side row "
    "function; the only shuffle is the partial-aggregated manifest "
    "keyed by (split, lang) — 3 x |langs| rows.",
    tags=("pipeline", "etl"),
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.plans.analytics_queries import _kmv_hash_col

    docs = load_table(spark, sf_dir, "documents")
    b = _kmv_hash_col("doc_id") % 100
    split = (
        F.when(b < _SPLIT_BOUNDS[0], "train")
        .when(b < _SPLIT_BOUNDS[1], "valid")
        .otherwise("test")
    )
    return docs.groupBy(split.alias("split"), F.col("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# --- #220 exact longest-repeated-substring (suffix ranks) -----------
# Upgrades #129's fixed 8-token windowed stand-in to the Lee et al.
# exact-substring method: suffix ranks by prefix doubling (operators/
# suffix.py), repeats read off order-adjacent LCPs. K levels fixed (no
# data-dependent early stop) so the oracle replays the construction as
# an unrolled CTE chain; dense ranks and the descent are pure integers
# — nothing engine-divergent crosses.
_LRS_K = 8  # suffix resolution 2^K = 256 tokens (substrate max ~120)
_LRS_MIN_REP = 8  # the #129 span length, for apples-to-apples counts


def _lrs_rep_chain_sql(k_levels: int = _LRS_K) -> str:
    """The shared DuckDB replay of the distributed suffix-rank build:
    WITH-chain from tokenization through per-position maxrep (CTE
    ``rep``), consumed by both #220's per-doc stats and #262's splice
    — 'same maxrep' between the two oracles is by construction."""
    parts = [
        f"""
    WITH tok AS (
      SELECT doc_id, i, toks[i] AS t, CAST(len(toks) AS BIGINT) AS dl
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents),
           unnest(generate_series(1, {ORACLE_POS_CAP})) AS s(i)
      WHERE i <= len(toks)),
    r0 AS MATERIALIZED (
           SELECT doc_id, CAST(i AS BIGINT) AS i, dl,
                  CAST(dense_rank() OVER (ORDER BY md5(t)) AS BIGINT) AS rk
           FROM tok)"""
    ]
    # every r{k} is referenced 4x (both sides of r{k+1}'s shift join and
    # both sides of d{k}'s descent probes) — without MATERIALIZED DuckDB
    # inlines CTEs per reference and the chain recomputes exponentially
    # (measured 59 s at sf0.001 vs ~1 s materialized)
    for k in range(1, k_levels + 1):
        half = 1 << (k - 1)
        parts.append(
            f"""
    r{k} AS MATERIALIZED (
      SELECT a.doc_id, a.i, a.dl,
             CAST(dense_rank() OVER (ORDER BY a.rk, coalesce(b.rk, 0))
                  AS BIGINT) AS rk
      FROM r{k - 1} a LEFT JOIN r{k - 1} b
        ON b.doc_id = a.doc_id AND b.i = a.i + {half})"""
        )
    parts.append(
        f"""
    grp AS (SELECT rk, CAST(count(*) AS BIGINT) AS gs
            FROM r{k_levels} GROUP BY rk),
    reps AS MATERIALIZED (SELECT rk, doc_id, i, dl FROM (
        SELECT rk, doc_id, i, dl,
               row_number() OVER (PARTITION BY rk ORDER BY doc_id, i) AS rn
        FROM r{k_levels}) WHERE rn = 1),
    d_start AS (
      SELECT a.rk AS rka, a.doc_id AS da, a.i AS ia, a.dl AS dla,
             b.doc_id AS db, b.i AS ib, b.dl AS dlb,
             CAST(0 AS BIGINT) AS off
      FROM reps a JOIN reps b ON b.rk = a.rk + 1)"""
    )
    prev = "d_start"
    for k in range(k_levels, -1, -1):
        step = 1 << k
        parts.append(
            f"""
    d{k} AS (
      SELECT p.rka, p.da, p.ia, p.dla, p.db, p.ib, p.dlb,
             CASE WHEN ka.rk IS NOT NULL AND kb.rk IS NOT NULL
                       AND p.ia + p.off + {step - 1} <= p.dla
                       AND p.ib + p.off + {step - 1} <= p.dlb
                       AND ka.rk = kb.rk
                  THEN p.off + {step} ELSE p.off END AS off
      FROM {prev} p
      LEFT JOIN r{k} ka ON ka.doc_id = p.da AND ka.i = p.ia + p.off
      LEFT JOIN r{k} kb ON kb.doc_id = p.db AND kb.i = p.ib + p.off)"""
        )
        prev = f"d{k}"
    parts.append(
        f"""
    nbr AS (SELECT rk, CAST(max(lcp) AS BIGINT) AS nbr_lcp FROM (
        SELECT rka AS rk, off AS lcp FROM d0
        UNION ALL SELECT rka + 1 AS rk, off AS lcp FROM d0) GROUP BY rk),
    rep AS (
      SELECT p.doc_id, p.i, p.dl,
             greatest(coalesce(n.nbr_lcp, 0),
                      CASE WHEN g.gs >= 2
                           THEN least(p.dl - p.i + 1, {1 << k_levels})
                           ELSE 0 END) AS maxrep
      FROM r{k_levels} p JOIN grp g ON g.rk = p.rk
      LEFT JOIN nbr n ON n.rk = p.rk)"""
    )
    return ",".join(parts)


def _lrs_oracle_sql(k_levels: int = _LRS_K) -> str:
    return (
        _lrs_rep_chain_sql(k_levels)
        + f"""
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_positions,
           CAST(max(maxrep) AS BIGINT) AS max_rep_len,
           CAST(sum(CASE WHEN maxrep >= {_LRS_MIN_REP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pos_rep_ge{_LRS_MIN_REP}
    FROM rep GROUP BY doc_id"""
    )


def _splice_oracle_sql(k_levels: int = _LRS_K) -> str:
    return (
        _lrs_rep_chain_sql(k_levels)
        + f""",
    cov AS (
      SELECT doc_id, i, dl,
             max(CASE WHEN maxrep >= {_LRS_MIN_REP}
                      THEN i + maxrep - 1 END)
               OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS reach
      FROM rep),
    flagged AS (
      SELECT c.doc_id, c.i, c.dl, t.t,
             CASE WHEN c.reach IS NOT NULL AND c.reach >= c.i
                  THEN 1 ELSE 0 END AS cut
      FROM cov c JOIN tok t ON t.doc_id = c.doc_id AND t.i = c.i),
    per_doc AS (
      SELECT doc_id,
             CAST(max(dl) AS BIGINT) AS n_tokens,
             CAST(sum(cut) AS BIGINT) AS n_removed,
             string_agg(CASE WHEN cut = 0 THEN t END, ' ' ORDER BY i)
               AS cleaned_text
      FROM flagged GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(p.n_removed, 0) AS BIGINT) AS n_removed,
           coalesce(p.cleaned_text, '') AS cleaned_text
    FROM documents d LEFT JOIN per_doc p USING (doc_id)"""
    )


@query(
    "dedup_suffix_lrs",
    oracle=_lrs_oracle_sql(),
    doc="EXACT longest-repeated-substring per document via distributed "
    "suffix ranks (prefix doubling, operators/suffix.py) — the Lee et "
    "al. 2022 exact-substring dedup method, where #129's fixed 8-token "
    "window could only FLAG a repeat, this measures it: max_rep_len is "
    "the true token length of the longest substring starting in the "
    "doc that occurs >= 2 times anywhere in the corpus (overlaps "
    "allowed), n_pos_rep_ge8 counts positions opening a repeat of the "
    "#129 span length. rank_k tables are built in K=8 fixed rounds "
    "(dense rank of (rank, rank-shifted) pairs); maximal-LCP-is-with-"
    "an-order-neighbor reads repeats off adjacent rank groups by "
    "integer binary descent. Scale: NO global-window ranking — dense "
    "ranks factorize into per-band windows (banding key monotone in "
    "the sort key) + a <=256-row collected offset table per round "
    "(bounded driver state, the BPE/k-means pattern); all shuffles "
    "keyed; every rank level lineage_cut (each feeds the next round "
    "AND the descent). The DuckDB oracle replays all K rounds + the "
    "9-step descent as one unrolled CTE chain — dense ranks are "
    "integers, so the replay is bit-exact. Resolution: exact for docs "
    "<= 256 tokens (substrate max ~120), saturating beyond. K RULE "
    "(r13): pick K = ceil(log2(max_doc_tokens)) — 2k-16k-token "
    "production docs need K=11-14; each +1 costs one banded dense-"
    "rank round + one descent level (measured: lrs_k_sweep in "
    "BENCH_TREND, `python tools/stress.py --lrs-k`); too-small K "
    "saturates max_rep_len at 2^K but never corrupts sub-resolution "
    "repeats (tests/test_dedup.py production-direction pin).",
    tags=("dedup", "pipeline"),
)
def dedup_suffix_lrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.suffix import doc_repeat_stats

    docs = load_table(spark, sf_dir, "documents")
    return doc_repeat_stats(docs, min_rep=_LRS_MIN_REP, k_levels=_LRS_K)


@query(
    "dedup_suffix_splice",
    oracle=_splice_oracle_sql(),
    doc="Exact-substring dedup ACTION (Lee et al. 2022's ExactSubstr "
    "removal, the production step #220 only measures): every token "
    f"covered by a repeated span of >= {_LRS_MIN_REP} tokens (a "
    "position p with maxrep(p) >= k covers [p, p+maxrep(p)-1]; ALL "
    "copies are removed, the paper's semantics) is spliced out and "
    "the cleaned text re-emitted with removal counts. Built on the "
    "same suffix-rank machinery as #220 (operators/suffix.py "
    "splice_repeats): per-position maxrep from the shared rank build, "
    "coverage as ONE per-document running-max window over span ends "
    "(never an interval->token explode), one keyed join back to the "
    "token stream, one groupBy reassembling text in position order. "
    "The DuckDB oracle extends #220's unrolled rank-replay chain "
    "(shared _lrs_rep_chain_sql — 'same maxrep' by construction) with "
    "the identical window + string_agg(ORDER BY i), so the CLEANED "
    "TEXT ITSELF is value-compared, not just the counts. Conservation "
    "(n_removed + len(tokens(cleaned)) == n_tokens) and planted-"
    "repeat surgery are pinned in tests/test_r15_operators.py. Scale: "
    "everything downstream of the rank build is corpus-token-sized "
    "with keyed shuffles; the window is per-document (bounded rows); "
    "cleaned text lands partitioned by doc like any ETL rewrite.",
    tags=("dedup", "pipeline"),
)
def dedup_suffix_splice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.suffix import splice_repeats

    docs = load_table(spark, sf_dir, "documents")
    return splice_repeats(docs, min_rep=_LRS_MIN_REP, k_levels=_LRS_K)


@query(
    "docs_novelty_profile",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
    spans AS (SELECT DISTINCT doc_id,
                     md5(array_to_string(
                         list_slice(ts, i, i + {_SPAN - 1}), ' ')) AS h
              FROM toks,
                   unnest(CASE WHEN len(ts) >= {_SPAN}
                               THEN generate_series(1, len(ts) - {_SPAN - 1})
                               ELSE [] END) AS t(i)),
    firsts AS (SELECT h, min(doc_id) AS first_doc FROM spans GROUP BY h),
    per AS (SELECT s.doc_id,
                   count(*) AS ns,
                   sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                       AS novel
            FROM spans s JOIN firsts f USING (h) GROUP BY 1)
    SELECT d.doc_id,
           CAST(coalesce(p.ns, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(p.novel, 0) AS BIGINT) AS n_novel_spans,
           CASE WHEN p.ns > 0
                THEN CAST(floor(p.novel * 1000000.0 / p.ns + 0.5) AS BIGINT)
           END AS novelty_micros
    FROM documents d LEFT JOIN per p USING (doc_id)
    """,
    doc=f"Corpus novelty profile: per document, the fraction of its "
    f"distinct {_SPAN}-token spans whose FIRST corpus occurrence (min "
    "doc_id over the span hash) is this document — 'how much text "
    "does this doc add that the corpus hasn't seen before'. The "
    "data-ordering / dedup-ROI signal: sorting an ingest by novelty "
    "shows where marginal documents stop contributing, and a "
    "low-novelty tail is exactly what #129/#220 would then dedup. "
    "Same plan skeleton as #129 (span explode -> two linear keyed "
    "shuffles, a repeated span is ONE counter row, never a pair "
    "explosion); the ratio is one correctly-rounded IEEE division "
    "quantized to micros (the shard-manifest fill_micros precedent).",
    tags=("pipeline", "text"),
)
def docs_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"[ \t\n\x0b\f\r]+")
    starts = F.expr(
        f"CASE WHEN size(toks) >= {_SPAN} "
        f"THEN sequence(1, size(toks) - {_SPAN - 1}) "
        "ELSE CAST(array() AS array<int>) END"
    )
    spans = (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.explode(starts).alias("i"))
        .select(
            "doc_id",
            F.md5(F.array_join(F.slice("toks", F.col("i"), _SPAN), " ")).alias("h"),
        )
        .distinct()
    )
    firsts = spans.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    per = (
        spans.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("ns"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("novel"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("ns", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("novel", F.lit(0)).cast("long").alias("n_novel_spans"),
            F.when(
                F.col("ns") > 0,
                F.floor(F.col("novel") * 1_000_000.0 / F.col("ns") + 0.5),
            )
            .cast("long")
            .alias("novelty_micros"),
        )
    )


@query(
    "docs_model_quality_scores",
    oracle="""
    SELECT doc_id, 'ok' AS status,
           CAST(('0x' || substr(md5(text), 1, 4))::BIGINT
              + ('0x' || substr(md5(text), 5, 4))::BIGINT
              + ('0x' || substr(md5(text), 9, 4))::BIGINT
              + ('0x' || substr(md5(text), 13, 4))::BIGINT
             AS BIGINT) AS score_int
    FROM documents
    """,
    doc="Neural quality scoring through the BATCH MODEL-INFERENCE "
    "seam (operators/inference.py, VERDICT r12 task #4): the corpus "
    "streams through infer_batches — Arrow batches, bounded model "
    "calls, malformed-input quarantine, poison-row isolation — with "
    "the deterministic fake model standing in for a production "
    "classifier (no model runtime in this env; the seam contract a "
    "real server must satisfy is tests/test_seam_contracts.py). The "
    "fake's components are md5-hex slices (integer-valued doubles), "
    "so the REAL seam machinery is value-oracled exactly through the "
    "hex integer seam: score_int = sum of the 4 components. Scale: "
    "one mapInPandas pass, model calls batch_size-bounded, output "
    "adds one array column — the corpus never collects; this is THE "
    "plan shape of model-scored curation at 100 TB (the quality-"
    "classifier stage of FineWeb/DCLM-style pipelines).",
    tags=("pipeline", "text"),
)
def docs_model_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.inference import (
        fake_hash_model,
        infer_batches,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = infer_batches(docs, model_fn=fake_hash_model)
    return scored.select(
        "doc_id",
        "status",
        F.aggregate("output", F.lit(0.0), lambda a, v: a + v)
        .cast("long")
        .alias("score_int"),
    )


# DSIR data selection (#242). Hashed-feature space and target domain:
_DSIR_B = 256  # feature buckets (hashed unigrams, md5 integer seam)
_DSIR_TARGET_LANG = "en"  # target domain = English docs


@query(
    "docs_dsir_importance",
    oracle=rf"""
    WITH tok AS (SELECT doc_id, lang, unnest({_TOKS}) AS t
                 FROM documents),
    feat AS (SELECT doc_id, lang,
                    ('0x' || substr(md5('dsir:' || t), 1, 15))::BIGINT
                      % {_DSIR_B} AS b,
                    CAST(count(*) AS BIGINT) AS tfb
             FROM tok GROUP BY 1, 2, 3),
    raw AS (SELECT b, CAST(sum(tfb) AS BIGINT) AS c_r FROM feat GROUP BY 1),
    tgt AS (SELECT b, CAST(sum(tfb) AS BIGINT) AS c_t FROM feat
            WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY 1),
    tot AS (SELECT CAST(sum(tfb) AS BIGINT) AS n_r,
                   CAST(sum(CASE WHEN lang = '{_DSIR_TARGET_LANG}'
                                 THEN tfb ELSE 0 END) AS BIGINT) AS n_t
            FROM feat),
    contrib AS (
      SELECT f.doc_id, f.lang,
             CAST(round(f.tfb * ((log2(coalesce(tgt.c_t, 0) + 1)
                                  - log2(tot.n_t + {_DSIR_B}))
                                 - (log2(raw.c_r + 1)
                                    - log2(tot.n_r + {_DSIR_B})))
                        * 1000) AS BIGINT) AS mb
      FROM feat f
      JOIN raw ON raw.b = f.b
      LEFT JOIN tgt ON tgt.b = f.b
      CROSS JOIN tot)
    SELECT doc_id, lang,
           CAST(sum(mb) AS BIGINT) AS weight_millibits
    FROM contrib GROUP BY 1, 2
    """,
    doc="DSIR importance weights (Xie et al. 2023, 'Data Selection "
    "for Language Models via Importance Resampling' — the method "
    "behind domain-targeted pretraining mixes): features are hashed "
    "unigrams (md5 bucket mod 256, the #236 seam), the target "
    "distribution is the English subcorpus, and each document's "
    "weight is sum_b tfb * [log p_target(b) - log p_raw(b)] with "
    "add-1 smoothing — so every log2 argument is an exact integer "
    "(c+1, N+B) and per-bucket contributions round to millibits "
    "before the per-doc integer sum (engine-exact, the #89 posture). "
    "Docs that look more target-like than corpus-average get "
    "positive weight; resampling by these weights shifts the mix "
    "toward the target domain. Scale: both bucket-count tables are "
    "<= 256 rows (BROADCAST — the whole point of hashing features is "
    "that model state is fixed-size no matter the corpus); the only "
    "corpus-sized work is the (doc, bucket) partial-agg shuffle, and "
    "the per-doc sum is the second keyed agg. No vocabulary pass, no "
    "driver-side state beyond the manifest-sized stats row.",
    tags=("pipeline", "text"),
)
def docs_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.functions.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("t")
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("t"))), 1, 15),
            16,
            10,
        ).cast("long")
        % _DSIR_B
    )
    feat = tok.select("doc_id", "lang", bucket.alias("b")).groupBy(
        "doc_id", "lang", "b"
    ).agg(F.count(F.lit(1)).alias("tfb"))
    raw = feat.groupBy("b").agg(F.sum("tfb").alias("c_r"))
    tgt = (
        feat.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.sum("tfb").alias("c_t"))
    )
    tot = feat.agg(
        F.sum("tfb").alias("n_r"),
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, F.col("tfb")).otherwise(
                F.lit(0)
            )
        ).alias("n_t"),
    )
    contrib = (
        feat.join(F.broadcast(raw), "b")
        .join(F.broadcast(tgt), "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            F.round(
                F.col("tfb")
                * (
                    (
                        F.log2(F.coalesce(F.col("c_t"), F.lit(0)) + 1)
                        - F.log2(F.col("n_t") + _DSIR_B)
                    )
                    - (
                        F.log2(F.col("c_r") + 1)
                        - F.log2(F.col("n_r") + _DSIR_B)
                    )
                )
                * 1000
            )
            .cast("long")
            .alias("mb"),
        )
    )
    return contrib.groupBy("doc_id", "lang").agg(
        F.sum("mb").cast("long").alias("weight_millibits")
    )


# ---------------------------------------------------------------------------
# Quality-classifier TRAINING LOOP (#259, VERDICT r13 task #7): logistic
# regression by integer-quantized full-batch gradient rounds, trained AS
# A PLAN — closing the FineWeb train->score loop that #241 (NB trained
# as a plan) and #238 (inference seam) bracket. Weak supervision: the
# label is a cheap rule (doc passes the length gate n_chars >= 300) and
# the classifier distills it into TOKEN-level features — the
# distill-a-rule-into-a-model posture of FineWeb-edu-style curation.
#
# Bit-replayable-state discipline (the #84/#145 hits_micros pattern):
# weights live in integer micros; the link is the HARD sigmoid
# p = clamp(5e5 + z div 4, 0, 1e6) (piecewise-rational, exact in
# integer arithmetic — no transcendental ever evaluated); features are
# integer-centered by exact `div` means; the step is
# w -= grad div (n*500). Every round replays in DuckDB by integer
# arithmetic alone (MATERIALIZED per-round CTEs per SURVEY §6).
# Constants frozen from a measured sweep (r14): 4 rounds / lr_den 500
# reach 98.8-99.2% training accuracy at sf0.001/sf0.01; more rounds or
# faster lr change accuracy by < 0.1 point.
_LOGREG_ROUNDS = 4
_LOGREG_LRD = 500  # step = grad div (n_docs * _LOGREG_LRD)
_LOGREG_Y_CHARS = 300  # weak label: y = 1e6 iff n_chars >= this


def _logreg_stop_sql() -> str:
    from utility_service_areas_spark.functions.textops import STOPWORDS

    return ", ".join(f"'{w}'" for w in STOPWORDS)


def _logreg_chain_sql() -> str:
    """The shared WITH chain: features -> centering -> all
    {_LOGREG_ROUNDS} gradient rounds, ending at wr{R} (the trained
    weights). #259 appends the train-surface tail; #260/#261 append
    the threshold-sweep / calibration tails over the SAME chain, so
    'same trained model' is true by construction on the oracle side
    exactly as the shared _logreg_fit frames make it on the Spark
    side."""
    head = rf"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, n_chars, unnest({_TOKS}) AS t FROM documents),
    feats AS MATERIALIZED (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS r1,
             CAST(count(DISTINCT t) AS BIGINT) AS r2,
             CAST(coalesce(sum(CASE WHEN t IN ({_logreg_stop_sql()})
                                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS r3,
             CASE WHEN any_value(n_chars) >= {_LOGREG_Y_CHARS}
                  THEN CAST(1000000 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS y
      FROM tok GROUP BY doc_id),
    mu AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r1) // count(*) AS BIGINT) AS m1,
             CAST(sum(r2) // count(*) AS BIGINT) AS m2,
             CAST(sum(r3) // count(*) AS BIGINT) AS m3
      FROM feats),
    fc AS MATERIALIZED (
      SELECT doc_id, CAST(1 AS BIGINT) AS x0,
             r1 - m1 AS x1, r2 - m2 AS x2, r3 - m3 AS x3, y
      FROM feats, mu),
    wr0 AS MATERIALIZED (
      SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
             CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)"""
    rounds = []
    for r in range(1, _LOGREG_ROUNDS + 1):
        rounds.append(
            f""",
    gr{r} AS MATERIALIZED (
      SELECT CAST(sum((p - y) * x0) AS BIGINT) AS g0,
             CAST(sum((p - y) * x1) AS BIGINT) AS g1,
             CAST(sum((p - y) * x2) AS BIGINT) AS g2,
             CAST(sum((p - y) * x3) AS BIGINT) AS g3
      FROM (SELECT least(1000000, greatest(0,
                     500000 + (x0*w0 + x1*w1 + x2*w2 + x3*w3) // 4)) AS p,
                   y, x0, x1, x2, x3
            FROM fc, wr{r - 1})),
    wr{r} AS MATERIALIZED (
      SELECT w0 - g0 // (n * {_LOGREG_LRD}) AS w0,
             w1 - g1 // (n * {_LOGREG_LRD}) AS w1,
             w2 - g2 // (n * {_LOGREG_LRD}) AS w2,
             w3 - g3 // (n * {_LOGREG_LRD}) AS w3
      FROM wr{r - 1}, gr{r}, mu)"""
        )
    return head + "".join(rounds)


def _logreg_oracle() -> str:
    tail = f"""
    SELECT w0 AS w_bias, w1 AS w_ntok, w2 AS w_ndist, w3 AS w_nstop,
           mu.m1 AS mu_ntok, mu.m2 AS mu_ndist, mu.m3 AS mu_nstop,
           (SELECT CAST(count(*) AS BIGINT) FROM fc WHERE y > 0) AS n_pos,
           (SELECT CAST(count(*) AS BIGINT)
            FROM fc, wr{_LOGREG_ROUNDS}
            WHERE (x0*w0 + x1*w1 + x2*w2 + x3*w3 >= 0) = (y > 0))
             AS n_correct,
           mu.n AS n_docs
    FROM wr{_LOGREG_ROUNDS}, mu"""
    return _logreg_chain_sql() + tail


_LOGREG_Z = "x0*w0 + x1*w1 + x2*w2 + x3*w3"
_LOGREG_P = f"least(1000000, greatest(0, 500000 + ({_LOGREG_Z}) div 4))"


def _logreg_features(docs: DataFrame) -> DataFrame:
    """Raw integer feature frame (doc_id, r1=n_tokens, r2=n_distinct,
    r3=n_stopwords, y=weak label in micros) for ANY documents frame —
    the feature stage shared by the batch trainer (#259-#261) and the
    S40 streaming online updater, so 'same features' is true by
    construction across batch and stream."""
    from utility_service_areas_spark.functions.textops import STOPWORDS, tokens

    tok = docs.select(
        "doc_id",
        "n_chars",
        F.explode(tokens(F.col("text"))).alias("t"),
    )
    return tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("r1"),
        F.countDistinct("t").alias("r2"),
        F.coalesce(
            F.sum(F.when(F.col("t").isin(*STOPWORDS), 1).otherwise(0)),
            F.lit(0),
        ).alias("r3"),
        F.when(F.any_value("n_chars") >= _LOGREG_Y_CHARS, F.lit(1_000_000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("y"),
    )


def _logreg_fit(spark: SparkSession, sf_dir: str):
    """(fc, w, mu): the materialized centered-feature frame, the
    trained 1-row weights frame after _LOGREG_ROUNDS gradient rounds,
    and the 1-row (n, m1..m3) means frame — the Spark twin of
    _logreg_chain_sql, shared by #259/#260/#261 so all three score the
    SAME trained model."""
    from utility_service_areas_spark.operators.dedup import lineage_cut

    feats = _logreg_features(load_table(spark, sf_dir, "documents"))
    mu = feats.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("sum(r1) div count(*)").alias("m1"),
        F.expr("sum(r2) div count(*)").alias("m2"),
        F.expr("sum(r3) div count(*)").alias("m3"),
    )
    # The centered feature frame is reused by every round + the final
    # confusion scan: materialize it once (corpus tokenized exactly
    # once; everything after runs over n x 5 ints).
    fc = lineage_cut(
        feats.crossJoin(F.broadcast(mu)).select(
            "doc_id",
            F.lit(1).cast("long").alias("x0"),
            (F.col("r1") - F.col("m1")).alias("x1"),
            (F.col("r2") - F.col("m2")).alias("x2"),
            (F.col("r3") - F.col("m3")).alias("x3"),
            "y",
        )
    )
    w = spark.range(1).select(
        F.lit(0).cast("long").alias("w0"),
        F.lit(0).cast("long").alias("w1"),
        F.lit(0).cast("long").alias("w2"),
        F.lit(0).cast("long").alias("w3"),
    )
    for _r in range(_LOGREG_ROUNDS):
        g = (
            fc.crossJoin(F.broadcast(w))
            .select(F.expr(_LOGREG_P).alias("p"), "y", "x0", "x1", "x2", "x3")
            .agg(
                *[
                    F.sum(F.expr(f"(p - y) * x{j}"))
                    .cast("long")
                    .alias(f"g{j}")
                    for j in range(4)
                ]
            )
        )
        w = (
            w.crossJoin(F.broadcast(g))
            .crossJoin(F.broadcast(mu))
            .select(
                *[
                    F.expr(f"w{j} - g{j} div (n * {_LOGREG_LRD})").alias(
                        f"w{j}"
                    )
                    for j in range(4)
                ]
            )
        )
    return fc, w, mu


@query(
    "docs_quality_logreg_train",
    oracle=_logreg_oracle(),
    doc="Quality-classifier TRAINING LOOP as a plan (VERDICT r13 task "
    "#7): logistic regression by 4 integer-quantized full-batch "
    "gradient rounds over token-level features (n_tokens, n_distinct, "
    "n_stopwords; integer-centered by exact div means), weakly "
    "supervised by the length gate n_chars >= 300 — distilling a "
    "cheap rule into a model, the FineWeb-edu curation posture, "
    "closing the train->score loop that #241 (NB as a plan) and #238 "
    "(inference seam) bracket. Bit-replayable state (the hits_micros "
    "#84/#145 discipline): weights are integer micros, the link is "
    "the HARD sigmoid clamp(5e5 + z div 4, 0, 1e6) so no "
    "transcendental is ever evaluated, the step is grad div (n*500) "
    "— every round replays in DuckDB by integer arithmetic alone "
    "(MATERIALIZED per-round CTEs). Output: final weights + feature "
    "means (the deployable model — tests score it through "
    "infer_batches with a separation pin) + training confusion "
    "counts (98.8-99.2%% accuracy, measured). Scale: the corpus "
    "collapses ONCE to a 4-int feature frame (tokenize + one "
    "groupBy); each round is one partial-agg reduce over that frame "
    "with scalar broadcast weights — R tiny barrier jobs, no "
    "corpus-sized shuffle, nothing data-sized at the driver; at "
    "100 TB the feature frame is ~1%% of corpus bytes and rounds are "
    "embarrassingly map-side.",
    tags=("pipeline", "text"),
)
def docs_quality_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    fc, w, mu = _logreg_fit(spark, sf_dir)
    z_expr = _LOGREG_Z
    confusion = (
        fc.crossJoin(F.broadcast(w))
        .agg(
            F.sum(F.when(F.col("y") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.sum(
                F.when(
                    (F.expr(z_expr) >= 0) == (F.col("y") > 0), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
    )
    return (
        w.crossJoin(F.broadcast(mu))
        .crossJoin(F.broadcast(confusion))
        .select(
            F.col("w0").alias("w_bias"),
            F.col("w1").alias("w_ntok"),
            F.col("w2").alias("w_ndist"),
            F.col("w3").alias("w_nstop"),
            F.col("m1").alias("mu_ntok"),
            F.col("m2").alias("mu_ndist"),
            F.col("m3").alias("mu_nstop"),
            "n_pos",
            "n_correct",
            F.col("n").alias("n_docs"),
        )
    )


# #260/#261: the operating-point tables over #259's trained model —
# curation runs at a THRESHOLD, and picking it needs the PR sweep
# (which threshold keeps how much, at what purity) and the calibration
# table (does the hard-sigmoid score MEAN anything as a probability).
# Integer micros end-to-end; both oracles append their tail to the
# SAME _logreg_chain_sql() the trainer replays, so "same trained
# model" is true by construction on both engines.
_LOGREG_THRESHOLDS = (
    -1_500_000,
    -1_000_000,
    -500_000,
    -250_000,
    0,
    250_000,
    500_000,
    1_000_000,
    1_500_000,
)


@query(
    "docs_logreg_pr_sweep",
    oracle=_logreg_chain_sql()
    + f""",
    th AS (SELECT CAST(unnest(ARRAY[{", ".join(str(t) for t in _LOGREG_THRESHOLDS)}]) AS BIGINT) AS threshold),
    sc AS MATERIALIZED (
      SELECT x0*w0 + x1*w1 + x2*w2 + x3*w3 AS z, y
      FROM fc, wr{_LOGREG_ROUNDS}),
    per AS (
      SELECT threshold,
        CAST(sum(CASE WHEN z >= threshold AND y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(sum(CASE WHEN z >= threshold AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(sum(CASE WHEN z < threshold AND y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(sum(CASE WHEN z < threshold AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM sc, th GROUP BY threshold)
    SELECT threshold, tp, fp, fn, tn,
      CASE WHEN tp + fp > 0
           THEN CAST(tp * 1000000 // (tp + fp) AS BIGINT) END
        AS precision_micros,
      CASE WHEN tp + fn > 0
           THEN CAST(tp * 1000000 // (tp + fn) AS BIGINT) END
        AS recall_micros
    FROM per
    """,
    doc="Precision/recall THRESHOLD SWEEP over #259's trained "
    "quality classifier — the operating-point table a curation run "
    "reads to pick its keep threshold (keep-rate vs purity, the "
    "FineWeb 'classifier cut' decision). Scores z = w·x in integer "
    "micros from the SAME trained weights (#259's gradient chain is "
    "replayed verbatim — shared plan frames on the Spark side, shared "
    "WITH chain in the oracle); per-threshold confusion counts are "
    "exact integers and precision/recall are exact integer divisions "
    "(NULL when undefined, never a fake 0). Scale: the corpus "
    "collapses to the n×2 (z, y) frame once; the sweep is a broadcast "
    "crossJoin with a 9-row literal dim + one partial-agg groupBy — "
    "output is 9 rows regardless of corpus size.",
    tags=("pipeline", "text"),
)
def docs_logreg_pr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    fc, w, mu = _logreg_fit(spark, sf_dir)
    th = local_df(spark, 
        [(t,) for t in _LOGREG_THRESHOLDS], "threshold long"
    )
    sc = fc.crossJoin(F.broadcast(w)).select(
        F.expr(_LOGREG_Z).alias("z"), "y"
    )
    return _pr_sweep(sc, th)


def _pr_sweep(sc: DataFrame, th: DataFrame) -> DataFrame:
    """#260's sweep tail over any scored (z, y) frame — shared with
    the S40 online-state refresh readout (streaming/events.py:
    logreg_online_pr_sweep) so 'same sweep' is by construction."""
    per = (
        sc.crossJoin(F.broadcast(th))
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when((F.col("z") >= F.col("threshold")) & (F.col("y") > 0), 1)
                .otherwise(0)
            ).cast("long").alias("tp"),
            F.sum(
                F.when((F.col("z") >= F.col("threshold")) & (F.col("y") == 0), 1)
                .otherwise(0)
            ).cast("long").alias("fp"),
            F.sum(
                F.when((F.col("z") < F.col("threshold")) & (F.col("y") > 0), 1)
                .otherwise(0)
            ).cast("long").alias("fn"),
            F.sum(
                F.when((F.col("z") < F.col("threshold")) & (F.col("y") == 0), 1)
                .otherwise(0)
            ).cast("long").alias("tn"),
        )
    )
    return per.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.expr("tp * 1000000 div (tp + fp)"),
        ).cast("long").alias("precision_micros"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.expr("tp * 1000000 div (tp + fn)"),
        ).cast("long").alias("recall_micros"),
    )


@query(
    "docs_logreg_calibration",
    oracle=_logreg_chain_sql()
    + f""",
    sc AS MATERIALIZED (
      SELECT least(1000000, greatest(0,
               500000 + (x0*w0 + x1*w1 + x2*w2 + x3*w3) // 4)) AS p, y
      FROM fc, wr{_LOGREG_ROUNDS})
    SELECT CAST(least(9, p // 100000) AS BIGINT) AS prob_bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(sum(p) // count(*) AS BIGINT) AS mean_p_micros,
           CAST(sum(CASE WHEN y > 0 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS frac_pos_micros
    FROM sc GROUP BY 1
    """,
    doc="CALIBRATION (reliability) table of #259's trained classifier: "
    "hard-sigmoid probability p = clamp(5e5 + z div 4) bucketed into "
    "deciles (p = 1e6 folds into the top bin), with per-bin predicted "
    "probability (mean_p) vs empirical positive rate (frac_pos) — "
    "the reliability-diagram readout that tells a curation pipeline "
    "whether the score can be USED as a probability (e.g. for "
    "score-proportional sampling) or only as a ranking. Same trained "
    "weights by construction (shared chain); all integer micros, "
    "exact integer divisions. Scale: one map-side p projection over "
    "the feature frame + a 10-group partial agg — output ≤ 10 rows "
    "regardless of corpus size.",
    tags=("pipeline", "text"),
)
def docs_logreg_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    fc, w, mu = _logreg_fit(spark, sf_dir)
    sc = fc.crossJoin(F.broadcast(w)).select(
        F.expr(_LOGREG_P).alias("p"), "y"
    )
    return sc.groupBy(
        F.expr("least(9, p div 100000)").cast("long").alias("prob_bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("y") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.expr("sum(p) div count(*)").cast("long").alias("mean_p_micros"),
        F.expr(
            "sum(CASE WHEN y > 0 THEN 1 ELSE 0 END) * 1000000 div count(*)"
        )
        .cast("long")
        .alias("frac_pos_micros"),
    )


# ---------------------------------------------------------------------------
# #263: the classifier-driven curation funnel (VERDICT r14 task #7) —
# the train -> sweep -> deploy loop actually driving the end-to-end
# pipeline: #259's trained weights are thresholded at the operating
# point the PR sweep picks (smallest threshold whose precision meets
# the purity target, i.e. the most-recall cut that is still pure
# enough), and that verdict REPLACES the funnel's heuristic stage-1
# quality gate. Stages 2-4 (exact dedup, minhash+CC over survivors,
# salted source quota) are untouched.
# ---------------------------------------------------------------------------

_CLF_PURITY_TARGET = 990_000  # keep the purest cut with >= 99% precision


def _clf_funnel_oracle() -> str:
    from utility_service_areas_spark.plans.text_queries import (
        _funnel_stages_sql,
    )

    thresholds = ", ".join(str(t) for t in _LOGREG_THRESHOLDS)
    # the funnel's `reach` CTE is recursive, so the WHOLE composed
    # WITH-list must be declared RECURSIVE (harmless for the
    # non-recursive logreg prefix)
    chain = _logreg_chain_sql().replace("WITH tok", "WITH RECURSIVE tok", 1)
    funnel = _funnel_stages_sql(
        lead="",
        p1_sql="(is_en AND coalesce(pass_clf, FALSE) "
        "AND t BETWEEN 5 AND 5000)",
        base_src="base LEFT JOIN clf USING (doc_id)",
    )
    return (
        chain
        + f""",
    th AS (SELECT CAST(unnest(ARRAY[{thresholds}]) AS BIGINT) AS threshold),
    sc AS MATERIALIZED (
      SELECT doc_id, x0*w0 + x1*w1 + x2*w2 + x3*w3 AS z, y
      FROM fc, wr{_LOGREG_ROUNDS}),
    perthr AS (
      SELECT threshold,
        CAST(sum(CASE WHEN z >= threshold AND y > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS tp,
        CAST(sum(CASE WHEN z >= threshold AND y = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS fp
      FROM sc, th GROUP BY threshold),
    pick AS MATERIALIZED (
      SELECT CAST(coalesce(
               min(CASE WHEN tp + fp > 0
                         AND tp * 1000000 // (tp + fp)
                             >= {_CLF_PURITY_TARGET}
                        THEN threshold END),
               max(threshold)) AS BIGINT) AS th_star
      FROM perthr),
    clf AS MATERIALIZED (
      SELECT doc_id, z >= th_star AS pass_clf FROM sc, pick),
    {funnel},
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
    SELECT 0 AS stage_idx, 'raw' AS stage, n0 AS n_docs, t0 AS n_tokens,
           th_star AS threshold FROM agg, pick
    UNION ALL SELECT 1, 'classifier_gate', n1, t1, th_star FROM agg, pick
    UNION ALL SELECT 2, 'exact_dedup', n2, t2, th_star FROM agg, pick
    UNION ALL SELECT 3, 'minhash_dedup', n3, t3, th_star FROM agg, pick
    UNION ALL SELECT 4, 'source_quota', n4, t4, th_star FROM agg, pick
    """
    )


_CLF_STACK = (
    "stack(5, "
    "CAST(0 AS BIGINT), 'raw', n0, t0, "
    "CAST(1 AS BIGINT), 'classifier_gate', n1, t1, "
    "CAST(2 AS BIGINT), 'exact_dedup', n2, t2, "
    "CAST(3 AS BIGINT), 'minhash_dedup', n3, t3, "
    "CAST(4 AS BIGINT), 'source_quota', n4, t4) "
    "AS (stage_idx, stage, n_docs, n_tokens)"
)


@query(
    "curation_funnel_classifier",
    oracle=_clf_funnel_oracle(),
    doc="The CLASSIFIER-DRIVEN curation funnel (VERDICT r14 task #7): "
    "#259's quality classifier is trained in-plan (same shared "
    "gradient chain), #260's PR sweep picks the operating point — "
    "the SMALLEST threshold whose precision_micros >= 990000, i.e. "
    "the most-recall cut still meeting the purity target (falling "
    "back to the strictest threshold if none qualifies) — and that "
    "deployed verdict z >= th* REPLACES the funnel's heuristic "
    "stage-1 quality gate (lang + length legs stay; stages 2-4 — "
    "exact dedup, minhash+CC over survivors, salted source quota — "
    "are curation_funnel_report's verbatim). Emits the 5-stage "
    "funnel plus the chosen threshold column, so the operating "
    "point itself is value-oracled. The oracle replays training, "
    "sweep, pick, gate, and all four funnel stages in ONE composed "
    "WITH chain (_logreg_chain_sql + _funnel_stages_sql — 'same "
    "model' and 'same funnel' by construction). Scale: the corpus "
    "tokenizes twice (feature build, funnel base) and each collapse "
    "is map-side + one keyed groupBy; the sweep/pick are "
    "9-row/1-row broadcasts; the gate join is corpus-keyed; "
    "downstream stage volumes are bounded by survivors exactly as "
    "in the heuristic funnel.",
    tags=("pipeline", "text", "dedup"),
)
def curation_funnel_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from utility_service_areas_spark.operators.dedup import lineage_cut
    from utility_service_areas_spark.plans.text_queries import (
        _funnel_agg_cols,
        _funnel_stage_frame,
    )

    fc, w, mu = _logreg_fit(spark, sf_dir)
    # (doc_id, z, y) is consumed twice (sweep + gate): materialize once
    sc = lineage_cut(
        fc.crossJoin(F.broadcast(w)).select(
            "doc_id", F.expr(_LOGREG_Z).alias("z"), "y"
        )
    )
    th = local_df(spark, 
        [(t,) for t in _LOGREG_THRESHOLDS], "threshold long"
    )
    perthr = (
        sc.crossJoin(F.broadcast(th))
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when(
                    (F.col("z") >= F.col("threshold")) & (F.col("y") > 0), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when(
                    (F.col("z") >= F.col("threshold")) & (F.col("y") == 0), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("fp"),
        )
    )
    # 1-row operating point, consumed by the gate AND the final
    # projection — cut it or each consumer re-runs the corpus-sized
    # sweep aggregation (r15 review #7)
    pick = lineage_cut(perthr.agg(
        F.coalesce(
            F.min(
                F.when(
                    (F.col("tp") + F.col("fp") > 0)
                    & (
                        F.expr("tp * 1000000 div (tp + fp)")
                        >= _CLF_PURITY_TARGET
                    ),
                    F.col("threshold"),
                )
            ),
            F.max("threshold"),
        )
        .cast("long")
        .alias("th_star")
    ))
    gate = sc.crossJoin(F.broadcast(pick)).select(
        "doc_id", (F.col("z") >= F.col("th_star")).alias("pass_clf")
    )
    agg = _funnel_stage_frame(spark, sf_dir, clf_gate=gate).agg(
        *_funnel_agg_cols()
    )
    return agg.crossJoin(F.broadcast(pick)).select(
        F.expr(_CLF_STACK), F.col("th_star").alias("threshold")
    )


# #267: the S40 -> #260 loop closed (VERDICT r15 task #6) — the online
# updater keeps the WEIGHTS fresh, but the deployed threshold was
# picked at batch-training time; this key deploys the batch model into
# the real S40 state file, takes three deterministic online steps
# (micro-batches = doc_id % 3 splits, exactly-once through
# logreg_online_apply_batch), then re-runs the #260 sweep against the
# CURRENT online weights through the shared _pr_sweep tail. The oracle
# replays the whole loop in one WITH chain: the batch gradient chain,
# three more unrolled integer steps each scoped to its split (its own
# n in the step denominator — the online step's per-batch learning
# rate), then #260's sweep tail verbatim over the stepped weights,
# plus the weight columns so the online trajectory itself is
# value-oracled.
_ONLINE_STEPS = 3


def _online_refresh_oracle() -> str:
    steps = []
    prev = f"wr{_LOGREG_ROUNDS}"
    for k in range(_ONLINE_STEPS):
        steps.append(
            f""",
    ob{k} AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n FROM fc WHERE doc_id % 3 = {k}),
    og{k} AS MATERIALIZED (
      SELECT CAST(sum((p - y) * x0) AS BIGINT) AS g0,
             CAST(sum((p - y) * x1) AS BIGINT) AS g1,
             CAST(sum((p - y) * x2) AS BIGINT) AS g2,
             CAST(sum((p - y) * x3) AS BIGINT) AS g3
      FROM (SELECT least(1000000, greatest(0,
                     500000 + (x0*w0 + x1*w1 + x2*w2 + x3*w3) // 4)) AS p,
                   y, x0, x1, x2, x3
            FROM fc, {prev} WHERE doc_id % 3 = {k})),
    ow{k} AS MATERIALIZED (
      SELECT w0 - CASE WHEN n = 0 THEN 0
                       ELSE g0 // (n * {_LOGREG_LRD}) END AS w0,
             w1 - CASE WHEN n = 0 THEN 0
                       ELSE g1 // (n * {_LOGREG_LRD}) END AS w1,
             w2 - CASE WHEN n = 0 THEN 0
                       ELSE g2 // (n * {_LOGREG_LRD}) END AS w2,
             w3 - CASE WHEN n = 0 THEN 0
                       ELSE g3 // (n * {_LOGREG_LRD}) END AS w3
      FROM {prev}, og{k}, ob{k})"""
        )
        prev = f"ow{k}"
    thresholds = ", ".join(str(t) for t in _LOGREG_THRESHOLDS)
    return (
        _logreg_chain_sql()
        + "".join(steps)
        + f""",
    th AS (SELECT CAST(unnest(ARRAY[{thresholds}]) AS BIGINT) AS threshold),
    sc AS MATERIALIZED (
      SELECT x0*w0 + x1*w1 + x2*w2 + x3*w3 AS z, y
      FROM fc, {prev}),
    per AS (
      SELECT threshold,
        CAST(sum(CASE WHEN z >= threshold AND y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(sum(CASE WHEN z >= threshold AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(sum(CASE WHEN z < threshold AND y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(sum(CASE WHEN z < threshold AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM sc, th GROUP BY threshold)
    SELECT threshold, tp, fp, fn, tn,
      CASE WHEN tp + fp > 0
           THEN CAST(tp * 1000000 // (tp + fp) AS BIGINT) END
        AS precision_micros,
      CASE WHEN tp + fn > 0
           THEN CAST(tp * 1000000 // (tp + fn) AS BIGINT) END
        AS recall_micros,
      (SELECT w0 FROM {prev}) AS w_bias,
      (SELECT w1 FROM {prev}) AS w_ntok,
      (SELECT w2 FROM {prev}) AS w_ndist,
      (SELECT w3 FROM {prev}) AS w_nstop
    FROM per
    """
    )


@query(
    "logreg_online_sweep_refresh",
    oracle=_online_refresh_oracle(),
    doc="Operating-point REFRESH from the S40 online state (VERDICT "
    "r15 task #6): deploy #259's batch model into the real online "
    "state file (init_logreg_online_state — frozen means, trained "
    "weights), take three deterministic online gradient steps through "
    "logreg_online_apply_batch (micro-batches = doc_id %% 3 splits, "
    "each step's learning rate scoped to ITS batch size — the S40 "
    "per-batch discipline, exactly-once via the recorded batch ids), "
    "then re-run #260's threshold sweep against the CURRENT weights "
    "via the shared _pr_sweep tail + the shared feature stage. The "
    "weight columns value-oracle the 3-step online trajectory itself; "
    "sweep(state after 0 steps) == batch #260 is pytest-pinned, so "
    "the refresh provably degenerates to the batch pick when nothing "
    "has drifted. Scale: the corpus tokenizes once for the batch "
    "chain, once per micro-batch (streaming reality), once for the "
    "refresh scoring; every reduce is a partial-agg to 1 or 9 rows — "
    "nothing data-sized at the driver, state is a 4-int JSON file.",
    tags=("pipeline", "text", "streaming"),
)
def logreg_online_sweep_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from utility_service_areas_spark.streaming.events import (
        init_logreg_online_state,
        load_logreg_online_state,
        logreg_online_apply_batch,
        logreg_online_pr_sweep,
    )

    fc, w, mu = _logreg_fit(spark, sf_dir)
    wrow = w.collect()[0]  # 1 row — the deployable batch model
    murow = mu.collect()[0]  # 1 row — the frozen means
    state_path = os.path.join(
        tempfile.mkdtemp(prefix="s40-refresh-"), "state.json"
    )
    init_logreg_online_state(
        state_path,
        mu=(murow.m1, murow.m2, murow.m3),
        w=(wrow.w0, wrow.w1, wrow.w2, wrow.w3),
        lr_den=_LOGREG_LRD,
    )
    docs = load_table(spark, sf_dir, "documents")
    for k in range(_ONLINE_STEPS):
        batch = docs.filter(F.expr(f"doc_id % 3 = {k}"))
        logreg_online_apply_batch(batch, k, state_path)
    sweep = logreg_online_pr_sweep(docs, state_path)
    w0, w1, w2, w3 = (
        int(x) for x in load_logreg_online_state(state_path)["w"]
    )
    return sweep.select(
        "*",
        F.lit(w0).cast("long").alias("w_bias"),
        F.lit(w1).cast("long").alias("w_ntok"),
        F.lit(w2).cast("long").alias("w_ndist"),
        F.lit(w3).cast("long").alias("w_nstop"),
    )
