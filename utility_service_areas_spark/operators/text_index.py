"""Persisted BM25 text-index lifecycle: build once -> search many (S34).

The text twin of operators/vector_index.py (r13): every retrieval
registry query tokenizes + counts the corpus inline (right for a
value-oracled benchmark, wrong for serving) — a 100 TB search path
builds the inverted index ONCE, persists it, and answers many query
workloads from the artifacts (the Lucene segment contract re-expressed
as parquet + a manifest).

Index layout (format_version 2, r14) under ``index_dir``::

    segments/seg-<token>/postings/pbucket=N/  parquet (t, doc_id, tf)
    segments/seg-<token>/doclens/             parquet (doc_id, dl)
    _MANIFEST.json  params + per-segment counts — the ONLY commit point

Each build/add batch becomes ONE immutable segment, staged under
``segments/_tmp-seg-<token>/`` and made visible by a single atomic
rename (``fsutil.stage_segment`` — the segment-index store in
``sources/fsutil.py``, shared with the IVFPQ index) — but even a
renamed segment is INVISIBLE until the manifest lists it, because
every reader (load/search/add's anti-join) walks
``manifest["segments"]``, never the directory. That closes the
r13 torn-add window (ADVICE r13 #1): the old layout appended postings
then doclens as two non-atomic writes, so a crash between them let a
retried micro-batch pass the doclens anti-join and re-append the same
postings, doubling tf. Now a crash anywhere before the manifest commit
leaves an unlisted segment dir that no reader sees and the retried
batch re-adds cleanly (exactly-once by data semantics — the S38
claim now holds across a failure anywhere inside feed_batch).

Postings are written partitioned by ``pbucket = pmod(xxhash64(t), B)``
— the bucketed-by-term layout (VERDICT r13 task #4): a query's terms
map to a handful of buckets, so ``search_bm25_index`` prunes the
postings scan to those directories (static partition pruning, pinned
on PartitionFilters in tests/test_text_index.py) instead of streaming
the full postings store. The query-term dim then broadcast-joins the
pruned scan — no Exchange on the postings side at any point.

Manifest counts are ADDITIVE (VERDICT r13 task #5): each segment entry
carries its own (n_docs, l_total) measured once from the staged
segment, and the totals are their sums — an add costs O(batch), never
O(committed store). ``repair_bm25_manifest`` is the recount path for a
manifest corrupted out-of-band. ``compact_bm25_index`` folds all
segments into one (manifest-first deletion order, the vacuum posture),
and ``add_to_bm25_index(compact_every=N)`` self-compacts so repeated
appends cannot accrue unbounded small-file segments.

EXACT incremental add — and why it's exact where IVFPQ's is "frozen-
codebook approximate": BM25's corpus statistics (df, N, total length)
are all ADDITIVE COUNTS derived from the postings/doclens stores at
search time, so a new segment's postings + doclens yield the same
index state as rebuilding from scratch over the union corpus (pinned
in tests/test_text_index.py). Re-adding an existing doc_id is a NO-OP
(first-writer-wins anti-join against the committed doclens).

``search_bm25_index`` replays ``bm25_topk_frame``'s scoring
(plans/text_queries.py, #219) operand for operand — reading tf from
postings and dl from doclens instead of tokenizing — so
search-from-artifacts is row-identical to the inline query over the
same corpus (driver-oracled via text_bm25_search_persisted against
the same SQL as #219).

Concurrency contract (r16): every mutation commits through
``fsutil.commit_manifest``, which claims an O_EXCL GENERATION marker
before its atomic manifest replace, inside ``fsutil.commit_attempts``'
retry loop — so two concurrent mutators can no longer lose an update:
a losing add re-applies its delta onto the winner's manifest when
their doc_id sets are disjoint (first-writer-wins stays intact) and
aborts loudly when they overlap; a losing compaction refolds; a losing
repair recounts. Readers are always safe against writers: every
mutation is an atomic manifest replace, a retried add batch is
exactly-once, and compaction does NOT delete the retired segment dirs
(an in-flight search over the old manifest keeps reading them; their
retirement moment is stamped by ``fsutil.stamp_retired``) —
``fsutil.vacuum_index`` reclaims unlisted dirs later, age-gated so it
cannot yank a segment from under a live reader or a mid-stage add.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from utility_service_areas_spark.operators.localrel import local_df
from utility_service_areas_spark.sources import fsutil

_FORMAT_VERSION = 2
_DEFAULT_BUCKETS = 32


def _pbucket_col(n_buckets: int):
    """The bucket-of-term expression — shared by the segment writer and
    the search-side prune so 'same function of t' is true by
    construction."""
    return F.pmod(F.xxhash64(F.col("t")), F.lit(n_buckets)).cast("int")


def _tokenize_counts(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens) for a document frame — the tf/dl stages of
    bm25_topk_frame verbatim. The corpus is tokenized exactly ONCE:
    postings are materialized (localCheckpoint), and doclens derive
    from them (dl = sum tf per doc, an identity of the tokenization) —
    r13 code review #7 found the naive two-frame version paying three
    corpus-sized tokenize passes per build."""
    from utility_service_areas_spark.functions.textops import tokens
    from utility_service_areas_spark.operators.dedup import lineage_cut

    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    )
    postings = lineage_cut(
        tok.groupBy("t", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    )
    doclens = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    return postings, doclens


def _write_segment(
    spark: SparkSession,
    index_dir: str,
    postings: DataFrame,
    doclens: DataFrame,
    n_buckets: int,
) -> dict | None:
    """Stage one immutable segment and make its DIRECTORY visible with
    a single atomic rename; returns its manifest entry (name + the
    additive counts, measured once from the staged parquet — O(batch))
    or None for an empty batch. The segment stays invisible to readers
    until the CALLER commits a manifest listing it."""

    def write(staged: str) -> dict | None:
        postings.withColumn("pbucket", _pbucket_col(n_buckets)).write.mode(
            "overwrite"
        ).partitionBy("pbucket").parquet(os.path.join(staged, "postings"))
        doclens.write.mode("overwrite").parquet(os.path.join(staged, "doclens"))
        n_docs, l_total = (
            spark.read.parquet(os.path.join(staged, "doclens"))
            .agg(F.count(F.lit(1)), F.sum("dl"))
            .collect()[0]
        )
        if not n_docs:
            return None
        return {"n_docs": int(n_docs), "l_total": int(l_total or 0)}

    return fsutil.stage_segment(index_dir, write)


def _empty_store(
    spark: SparkSession, manifest: dict
) -> tuple[DataFrame, DataFrame]:
    idt = manifest["doc_id_type"]
    postings = local_df(spark, 
        [], f"t string, doc_id {idt}, tf bigint, pbucket int"
    )
    doclens = local_df(spark, [], f"doc_id {idt}, dl bigint")
    return postings, doclens


def build_bm25_index(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = _DEFAULT_BUCKETS,
) -> dict:
    """Tokenize + persist the inverted index as one segment; returns
    the manifest. Building over an empty frame commits an empty (but
    valid and addable) index — the streaming bootstrap path."""
    postings, doclens = _tokenize_counts(docs, id_col, text_col)
    os.makedirs(index_dir, exist_ok=True)
    spark = docs.sparkSession
    seg = _write_segment(spark, index_dir, postings, doclens, n_buckets)
    segments = [seg] if seg else []
    manifest = {
        "format_version": _FORMAT_VERSION,
        "kind": "bm25_segments",
        "id_col": id_col,
        "text_col": text_col,
        "doc_id_type": dict(
            (f.name, f.dataType.simpleString()) for f in docs.schema.fields
        )[id_col],
        "n_buckets": n_buckets,
        "segments": segments,
        "n_docs": sum(s["n_docs"] for s in segments),
        "l_total": sum(s["l_total"] for s in segments),
        "n_adds": 0,
        "n_compactions": 0,
    }
    return fsutil.commit_overwrite(index_dir, manifest)


def load_bm25_index(
    spark: SparkSession, index_dir: str
) -> tuple[dict, DataFrame, DataFrame]:
    """(manifest, postings frame, doclens frame) — the union of the
    COMMITTED segments only. Raises FileNotFoundError if the index was
    never committed (no manifest — a crashed build's partial parquet
    is invisible by contract); unlisted segment dirs (torn adds) are
    never read."""
    manifest = fsutil.load_manifest(index_dir, _FORMAT_VERSION)
    if not manifest["segments"]:
        postings, doclens = _empty_store(spark, manifest)
        return manifest, postings, doclens
    roots = [
        os.path.join(fsutil.segments_root(index_dir), s["name"])
        for s in manifest["segments"]
    ]
    # Per-segment scans unioned (not one multi-root read): partition
    # discovery stays per-root and a pbucket filter pushes into every
    # scan independently.
    postings = reduce(
        DataFrame.unionByName,
        [spark.read.parquet(os.path.join(r, "postings")) for r in roots],
    )
    doclens = reduce(
        DataFrame.unionByName,
        [spark.read.parquet(os.path.join(r, "doclens")) for r in roots],
    )
    return manifest, postings, doclens


def add_to_bm25_index(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    id_col: str | None = None,
    text_col: str | None = None,
    compact_every: int | None = None,
) -> dict:
    """EXACT incremental add: tokenize only the new batch, commit it as
    one segment. Because every BM25 corpus statistic (df, N, L) is an
    additive count recomputed from the stores at search time, the
    post-add index is IDENTICAL to a from-scratch rebuild over the
    union corpus — no frozen-state approximation. A doc_id already
    COMMITTED is skipped (first-writer-wins), and a crash anywhere
    before the manifest commit leaves only an unlisted segment no
    reader sees — so a retried batch lands exactly once. Cost is
    O(batch) + the doclens anti-join; the manifest counts are additive
    (never a store recount — that is ``repair_bm25_manifest``'s job).

    ``compact_every=N`` self-compacts once the segment count reaches N
    (small-file hygiene for streaming feeds). Returns the manifest."""
    manifest, _postings, doclens = load_bm25_index(spark, index_dir)
    idc = id_col or manifest["id_col"]
    txc = text_col or manifest["text_col"]
    if manifest["segments"]:
        fresh = new_docs.join(
            doclens.select(F.col("doc_id").alias(idc)), idc, "left_anti"
        )
    else:
        fresh = new_docs
    # Intra-batch duplicate doc_ids would also double-count (the
    # anti-join only shields against the COMMITTED store — r13 code
    # review #4): keep one row per id, deterministically (min text
    # hash), so a retried-or-unioned upstream can't inflate tf/dl.
    fresh = fresh.groupBy(idc).agg(
        F.min_by(F.col(txc), F.md5(F.col(txc))).alias(txc)
    )
    new_postings, new_doclens = _tokenize_counts(fresh, idc, txc)
    seg = _write_segment(
        spark, index_dir, new_postings, new_doclens, manifest["n_buckets"]
    )
    # Optimistic-concurrency commit (r16, fsutil's generation
    # protocol): the segment is staged once; on a lost claim the delta
    # re-applies onto the winner's manifest — UNLESS the winner added
    # any of OUR doc_ids, which would break first-writer-wins
    # disjointness (the anti-join above ran against a stale committed
    # set). That conflict aborts loudly; the staged segment stays an
    # unlisted orphan for the age-gated vacuum.
    seen_names = {s["name"] for s in manifest["segments"]}
    root = fsutil.segments_root(index_dir)
    for attempt in fsutil.commit_attempts(index_dir, "add"):
        if attempt:
            manifest = fsutil.read_manifest(index_dir)  # deltas never double
            winner_new = [
                s["name"]
                for s in manifest["segments"]
                if s["name"] not in seen_names
                and (not seg or s["name"] != seg["name"])
            ]
            seen_names = {s["name"] for s in manifest["segments"]}
            if seg and winner_new:
                theirs = spark.read.parquet(
                    *[os.path.join(root, n, "doclens") for n in winner_new]
                )
                ours = spark.read.parquet(
                    os.path.join(root, seg["name"], "doclens")
                )
                n_dup = ours.join(theirs, "doc_id", "left_semi").count()
                if n_dup:
                    raise RuntimeError(
                        f"concurrent add committed {n_dup} of this batch's "
                        f"doc_ids first at {index_dir} — first-writer-wins "
                        "disjointness would break; re-run the add (the retry "
                        "will skip the already-committed docs)"
                    )
        if seg:
            manifest["segments"].append(seg)
            manifest["n_docs"] += seg["n_docs"]
            manifest["l_total"] += seg["l_total"]
        manifest["n_adds"] += 1
        if fsutil.commit_manifest(index_dir, manifest):
            break
    if compact_every and len(manifest["segments"]) >= compact_every:
        manifest = compact_bm25_index(spark, index_dir)
    return manifest


def compact_bm25_index(spark: SparkSession, index_dir: str) -> dict:
    """Fold every committed segment into ONE (the OPTIMIZE/forceMerge
    posture): reads the union stores, writes them as a single new
    segment, and commits a manifest listing only it. The retired
    segment dirs are NOT deleted here — an in-flight search that
    loaded the pre-compaction manifest keeps reading them (the Delta
    OPTIMIZE posture: rewrites never break concurrent readers);
    ``fsutil.vacuum_index`` reclaims them later behind an age gate.
    Search results are unchanged (pinned): doc_ids are disjoint
    across segments by first-writer-wins, so union == concatenation.
    Counts are carried additively from the retired entries, not
    recounted."""
    for _attempt in fsutil.commit_attempts(index_dir, "compaction"):
        manifest, postings, doclens = load_bm25_index(spark, index_dir)
        old = list(manifest["segments"])
        if len(old) <= 1:
            return manifest
        seg = _write_segment(
            spark,
            index_dir,
            postings.drop("pbucket"),
            doclens,
            manifest["n_buckets"],
        )
        # seg's measured counts must equal the additive totals (disjoint
        # union); trust-but-verify cheaply here since we just paid the
        # read. seg is None when the committed doclens were EMPTY despite
        # the manifest claiming docs (out-of-band corruption) — that's
        # the same lost-docs diagnostic, not a TypeError (ADVICE r14 #2).
        if seg is None or seg["n_docs"] != manifest["n_docs"]:
            raise RuntimeError(
                "compaction lost docs: "
                f"{seg['n_docs'] if seg else 0} != {manifest['n_docs']}"
            )
        manifest["segments"] = [seg]
        manifest["n_compactions"] += 1
        if fsutil.commit_manifest(index_dir, manifest):
            fsutil.stamp_retired(index_dir, [s["name"] for s in old])
            return manifest
        # lost to a concurrent add: the fold misses its segment — the
        # staged fold stays an unlisted orphan (vacuumed later), refold


def repair_bm25_manifest(spark: SparkSession, index_dir: str) -> dict:
    """The recount REPAIR path for the additive counts: re-derive every
    committed segment's (n_docs, l_total) from its parquet and rewrite
    the manifest. O(store) by design — run it on suspicion (a manifest
    edited out-of-band), not per add."""
    for _attempt in fsutil.commit_attempts(index_dir, "repair"):
        manifest, _p, _d = load_bm25_index(spark, index_dir)
        segs = []
        for s in manifest["segments"]:
            n_docs, l_total = (
                spark.read.parquet(
                    os.path.join(
                        fsutil.segments_root(index_dir), s["name"], "doclens"
                    )
                )
                .agg(F.count(F.lit(1)), F.sum("dl"))
                .collect()[0]
            )
            segs.append(
                {"name": s["name"], "n_docs": int(n_docs), "l_total": int(l_total or 0)}
            )
        manifest["segments"] = segs
        manifest["n_docs"] = sum(s["n_docs"] for s in segs)
        manifest["l_total"] = sum(s["l_total"] for s in segs)
        if fsutil.commit_manifest(index_dir, manifest):
            return manifest
        # lost to a concurrent writer: recount fresh


def search_bm25_index(
    spark: SparkSession,
    index_dir: str,
    qterms: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Answer a query workload (query_id, t) from the persisted
    artifacts — bm25_topk_frame's scoring expressions operand for
    operand (same k1=1.2/b=0.75 rational clearing, same integer-log2
    idf, same millibit rounding BEFORE the per-doc sum), with tf/dl
    read from parquet instead of tokenized. Row-identical to the
    inline #219 over the same corpus.

    The postings scan is pruned TWICE: first to the pbucket partitions
    the query terms hash into (a query-sized driver-side list — static
    partition pruning, directory-level), then by the broadcast
    query-term hash join. Everything postings-sized stays in one
    streaming pass with no Exchange."""
    from pyspark.sql.window import Window

    manifest, postings, doclens = load_bm25_index(spark, index_dir)
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("l_total")
    )
    qbuckets = [
        r[0]
        for r in qterms.select(_pbucket_col(manifest["n_buckets"]))
        .distinct()
        .collect()
    ]
    pruned = postings.filter(F.col("pbucket").isin(qbuckets)).drop("pbucket")
    pruned = pruned.join(F.broadcast(qterms.select("t").distinct()), "t")
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
        .join(doclens, "doc_id")
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
