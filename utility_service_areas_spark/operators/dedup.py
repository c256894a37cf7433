"""Deduplication operators for large-scale text pipelines
(SURVEY.md §2.4): exact, MinHash+LSH, n-gram Jaccard, SimHash.

Scale posture (100 TB): no operator here ever cross-joins the corpus.
Pair generation always goes through a bucketing key (LSH band hash,
shared shingle with document-frequency cap, SimHash band) so candidate
volume stays near-linear; exact verification runs only inside buckets.
Skewed buckets are handled by the df-cap filter + AQE skew-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from utility_service_areas_spark.functions.hashing import hamming64, simhash64
from utility_service_areas_spark.functions.textops import (
    normalized_text,
    shingles_sql,
    tokens_sql,
)
from utility_service_areas_spark.operators.spread import cpu_spread


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups on normalized text.

    One shuffle (groupBy hash); md5 computed JVM-side in codegen.
    Returns (text_hash, keeper_id, n_dups) — keeper is min id.
    """
    return (
        df.select(F.col(id_col), F.md5(normalized_text(F.col(text_col))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingle_exploded(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, df_cap: int | None = None
) -> DataFrame:
    """(id, shingle) long form, distinct per doc; optionally drop
    shingles whose document frequency exceeds ``df_cap``.

    The df-cap is the scale lever: an ultra-common shingle would
    otherwise create a quadratic bucket in every pair-generating
    consumer (same trick as stop-word removal in classic LSH systems).
    """
    ids = df.select(F.col(id_col).alias("doc"), F.col(text_col))
    # Small single-file sources arrive as a handful of input partitions,
    # which would serialize the heavy shingle projection. Hash-repartition
    # on the (unique) doc id ONLY in that case (cpu_spread: width from
    # input size, capped at core count): on a real cluster the scan is
    # already wide and an unconditional repartition would be a full
    # extra shuffle of the raw corpus text on every dedup call.
    ids = cpu_spread(ids, F.col("doc"))
    # Tokenize ONCE per row in its own projection (r17): the shingle
    # builder references the token array ~2(k-1)+2 times, and inlining
    # tokens() into the explode re-evaluates split(trim(text)) at every
    # reference — measured 6 evaluations per row per Generate at k=3.
    # CollapseProject keeps this alias (non-cheap, multiply-referenced)
    # so the split runs once and the generator sees a bound attribute.
    # Both projections are pre-rendered selectExpr strings (r18 batch-F
    # treatment: every Dataset transformation is an eager analyzer
    # pass and every Column node a py4j round-trip — the expressions
    # are identical to the tokens()/shingles() Column builders, pinned
    # by test_shingle_sql_matches_column_builders).
    toksed = ids.selectExpr("doc", f"{tokens_sql(text_col)} AS __toks")
    ex = toksed.selectExpr("doc", f"explode({shingles_sql('__toks', k)}) AS s")
    if df_cap is not None:
        # Count first, then ANTI-join away hot shingles — the filter
        # runs BEFORE any downstream collect_list can materialize a
        # quadratic bucket (df == bucket size since shingles are
        # distinct per doc). The hot set (df > cap) is tiny by
        # construction — stop-word-grade shingles — so AQE turns this
        # into a broadcast anti-join: the exploded corpus never
        # shuffles or sorts for the filter. (A semi-join against the
        # non-hot set would sort-merge the whole exploded frame.)
        # Catalyst re-derives the exploded subtree for this count pass
        # (two tokenize+shingle passes in the executed plan); a
        # lineage_cut of `ex` to share one materialization was A/B'd
        # in r18 and REJECTED: warm 2.15 s median vs 1.8 s recompute at
        # sf0.1 — persisting the exploded stream costs more than
        # re-running the compiled shingle kernel, and at 100 TB the
        # recompute is the documented posture anyway (never persist a
        # corpus-exploded stream).
        # The extra `df` column on the build side is pruned by the
        # anti-join (output = left columns), so no trimming select.
        hot = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df")).where(
            F.col("df") > df_cap
        )
        ex = ex.join(F.broadcast(hot), "s", "left_anti")
    return ex


_PAIRS_EXPR = """
    flatten(transform(docs, (a, i) ->
        transform(slice(docs, i + 2, size(docs) - i - 1),
                  b -> struct(a AS doc_a, b AS doc_b))))
"""


# Star pairs for an over-cap bucket: keeper (min doc — the list is
# sorted) paired with every other member. O(B) instead of O(B²).
_STAR_PAIRS_EXPR = """
    transform(slice(docs, 2, size(docs) - 1),
              b -> struct(docs[0] AS doc_a, b AS doc_b))
"""

_STAR_SIG_PAIRS_EXPR = """
    transform(slice(items, 2, size(items) - 1),
              b -> struct(items[0].doc AS doc_a, b.doc AS doc_b,
                          items[0].sim AS sim_a, b.sim AS sim_b))
"""


# Pairs over sorted (doc, n) items with the SIZE PREFILTER fused in:
# Jaccard(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so a pair whose size ratio
# is below the threshold can never pass the final filter — drop it
# BEFORE it reaches the count shuffle. The 1e-9 slack keeps the guard a
# strict superset of the exact `jac >= t` acceptance under any double
# rounding (n are small integers; the final filter stays authoritative).
_SIZED_PAIRS_EXPR = """
    filter(
      flatten(transform(items, (a, i) ->
          transform(slice(items, i + 2, size(items) - i - 1),
                    b -> struct(a.doc AS doc_a, b.doc AS doc_b,
                                a.n AS n_a, b.n AS n_b)))),
      p -> least(p.n_a, p.n_b) + 1e-9 >= {t} * greatest(p.n_a, p.n_b))
"""


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.2,
    df_cap: int = 100,
) -> DataFrame:
    """Candidate pairs sharing ≥1 (df-capped) shingle, with exact
    Jaccard over the capped shingle sets; emitted when ≥ threshold.

    Plan shape (one pass over the corpus): explode shingles → df-cap
    anti-join drops hot shingles BEFORE any bucket materializes (a
    stop-word-grade shingle must never reach collect_list — that would
    build a corpus-sized array in one reducer) → per-doc capped set
    size attached by a window count over the doc key (no self-join,
    no cached second pass) → groupBy(shingle) to sorted (doc, n)
    lists → JVM array-combinations with the SIZE PREFILTER fused into
    the pair expression (_SIZED_PAIRS_EXPR: a pair whose size ratio
    caps Jaccard below the threshold never leaves the bucket — at
    t=0.2 that's every pair longer/shorter than 5×) → count per pair.
    Sizes ride in the pair structs, so no post-aggregation size joins
    (the r5 plan joined sizes onto the distinct-pair frame twice).

    Returns (doc_a, doc_b, jaccard_micros); micros-bigint keeps floats
    out of value hashes.
    """
    from pyspark.sql.window import Window

    ex = shingle_exploded(df, id_col, text_col, k=k, df_cap=df_cap)
    ex = ex.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc")))
    lists = ex.groupBy("s").agg(
        F.sort_array(F.collect_list(F.struct("doc", "n"))).alias("items")
    )
    common = (
        # inline() explodes the pair array straight into the four
        # columns — one projection and one analyzer pass instead of
        # explode-then-unpack (r18 batch-F treatment; same shape as
        # lsh_candidate_pairs' band inline).
        lists.selectExpr(
            f"inline({_SIZED_PAIRS_EXPR.format(t=float(threshold))})"
        )
        # n_a/n_b are functionally determined by the doc ids, so the
        # widened grouping key makes the same groups as (doc_a, doc_b).
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # Same double-division expression as before (the acceptance
    # boundary must stay bit-identical to the oracle's); the filter
    # moves ahead of the projection, which the optimizer did anyway.
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return common.filter(jac >= threshold).select(
        "doc_a",
        "doc_b",
        F.round(jac * 1_000_000).cast("long").alias("jaccard_micros"),
    )


_ALL_PAIRS_EXPR = """
    flatten(transform(items, (a, i) ->
        transform(slice(items, i + 2, size(items) - i - 1),
                  b -> struct(a.doc AS doc_a, b.doc AS doc_b,
                              a.n AS n_a, b.n AS n_b))))
"""


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    c_threshold: float = 0.8,
    df_cap: int = 100,
) -> DataFrame:
    """Asymmetric NEAR-CONTAINMENT pairs: |A∩B| / min(|A|, |B|) over
    k-shingle sets — the signal symmetric Jaccard structurally misses
    (a 20-token quote inside a 500-token article has J ≈ 0.04 but
    containment ≈ 1.0). The curation use: drop a snippet whose content
    is wholly carried by a longer kept document.

    Same one-pass bucket shape as ngram_jaccard_pairs, WITHOUT the
    fused size-ratio prefilter — that guard is exactly wrong here
    (true containment pairs have extreme size ratios by definition);
    the df-cap and bucket aggregation remain the scale bounds.

    Returns (contained_id, container_id, n_common, containment_micros,
    jaccard_micros) for pairs with containment ≥ c_threshold; the
    CONTAINED side is the smaller shingle set (ties: the lower id —
    doc_a < doc_b by bucket construction).
    """
    from pyspark.sql.window import Window

    ex = shingle_exploded(df, id_col, text_col, k=k, df_cap=df_cap)
    ex = ex.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc")))
    lists = ex.groupBy("s").agg(
        F.sort_array(F.collect_list(F.struct("doc", "n"))).alias("items")
    )
    common = (
        lists.select(F.explode(F.expr(_ALL_PAIRS_EXPR)).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.n_a", "p.n_b")
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    c = F.col("n_common") / F.least("n_a", "n_b")
    j = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    small_is_a = F.col("n_a") <= F.col("n_b")
    return (
        common.filter(c >= c_threshold)
        .select(
            F.when(small_is_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
                "contained_id"
            ),
            F.when(small_is_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
                "container_id"
            ),
            F.col("n_common").cast("long").alias("n_common"),
            F.floor(c * 1_000_000 + 0.5).cast("long").alias("containment_micros"),
            F.floor(j * 1_000_000 + 0.5).cast("long").alias("jaccard_micros"),
        )
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, n_hashes: int = 8
) -> DataFrame:
    """MinHash signatures (doc, h0..h{n-1}) — entirely JVM-side:
    seeded md5 per shingle, lexicographic min per doc.

    r17: computed per ROW as array_min over the (already distinct)
    shingle array — no explode, no sort, no aggregate, no extra
    shuffle. The old explode+groupBy(min) form forced SortAggregate
    (min(string) has no hash-agg fast path: the agg buffer is a
    string), sorting the entire exploded shingle stream per partition
    before 8 md5 evaluations per (doc, shingle) row. Value-identical:
    min over exploded rows == array_min over the array (md5 of a
    non-null shingle is never null), and docs with fewer than k
    tokens have no shingles, so they were absent from the grouped
    frame — the token-count filter reproduces exactly that.
    """
    ids = df.select(F.col(id_col).alias("doc"), F.col(text_col))
    ids = cpu_spread(ids, F.col("doc"))
    toksed = ids.selectExpr("doc", f"{tokens_sql(text_col)} AS __toks").filter(
        F.size("__toks") >= k
    )
    sh = toksed.selectExpr("doc", f"{shingles_sql('__toks', k)} AS __sh")
    # One selectExpr with pre-rendered strings instead of 8 Column
    # trees (r17): the per-call py4j round-trips while BUILDING the
    # query are real driver latency; the parsed expressions are
    # identical to F.array_min(F.transform(__sh, s -> md5(concat(...))))
    # (equivalence pinned against the explode+groupBy reference).
    return sh.selectExpr(
        "doc",
        *[
            f"array_min(transform(__sh, s -> md5(concat('{i}:', s)))) AS h{i}"
            for i in range(n_hashes)
        ],
    )



def minhash_bands(
    sig: DataFrame, n_hashes: int = 8, band_size: int = 2
) -> DataFrame:
    """(doc, band_idx, band_hash) long form from a signature frame —
    band hash = md5 of the band's concatenated minhashes. Shared by
    the all-pairs LSH and the incremental (new-vs-corpus) flavor."""
    n_bands = n_hashes // band_size
    return sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.md5(
                            F.concat(
                                *[F.col(f"h{i * band_size + j}") for j in range(band_size)]
                            )
                        ).alias("band_hash"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc", "b.band_idx", "b.band_hash")


# Item-struct flavors of the pair expressions: each bucket member is
# struct(doc, h0..h{n-1}), sorted by doc (the struct's first field), so
# items[0] is the star keeper WITH its signature alongside — the same
# ride-inside-the-bucket shape simhash_candidate_pairs uses.
_ITEM_PAIRS_EXPR = """
    flatten(transform(items, (a, i) ->
        transform(slice(items, i + 2, size(items) - i - 1),
                  b -> struct(a AS ia, b AS ib))))
"""

_STAR_ITEM_PAIRS_EXPR = """
    transform(slice(items, 2, size(items) - 1),
              b -> struct(items[0] AS ia, b AS ib))
"""


def lsh_candidate_pairs(
    sig: DataFrame, n_hashes: int = 8, band_size: int = 2, bucket_cap: int = 100
) -> DataFrame:
    """Banded-LSH candidate pairs from a MinHash signature frame.

    Band hash = md5 of the band's concatenated minhashes; docs sharing
    any band bucket become a candidate pair, then the full signatures
    estimate similarity (n_matching_minhashes of n_hashes).
    Returns (doc_a, doc_b, n_matching_minhashes).

    Plan shape (r17): the signature rides INSIDE the band struct —
    the simhash_candidate_pairs shape — so the whole operator is one
    shuffle on the band key plus one distinct on the 3-column output:
    no sig cache, no second pass over the signature frame, and no
    pair→sig joins (the old shape cached sigs and sort/broadcast-
    joined them back onto the distinct pairs twice — at cluster scale
    two extra corpus-wide shuffles, locally 4 extra jobs + 2 broadcast
    builds). Carrying 8 md5 strings ×4 band rows per doc costs
    ~1 KB/doc of shuffle width, bytes the join shape re-shuffled
    anyway on the sig side; n_matching is computed BEFORE the
    distinct, so the distinct dedups narrow (doc_a, doc_b, n) rows
    (n is functionally determined by the pair — same multiplicity as
    a distinct on the pair alone).

    Scale lever — ``bucket_cap``: a boilerplate-heavy corpus (thousands
    of near-identical docs surviving exact dedup) would otherwise
    expand O(B²) pairs from one hot bucket. Buckets aggregate ONCE
    (groupBy band → sorted item list); a bucket at or under the cap
    emits all pairs, an over-cap bucket emits STAR pairs instead
    (keeper = min doc, paired with every other member): O(B) pairs,
    deterministic, derived from the same aggregated row — no second
    pass over the band frame, no count-prefilter joins. The reducer
    holds an O(B) item array for a hot bucket (memory, not compute —
    ~0.3 GB per million members with the in-struct signatures); a
    corpus degenerate enough to overflow that should raise the shingle
    df-cap, the analogous lever one stage earlier. Connectivity note:
    star pairs preserve candidate connectivity only at THIS stage — a
    downstream similarity filter (e.g. n_matching_minhashes threshold)
    may drop a keeper–member edge whose suppressed member–member edge
    would have passed, so an over-cap bucket is an approximation
    relative to uncapped behavior (oracle and impl share it).
    """
    n_bands = n_hashes // band_size
    hcols = [f"h{i}" for i in range(n_hashes)]
    # inline() explodes the band array straight into (band_idx,
    # band_hash) columns — one projection, one analysis pass, and the
    # whole select is pre-rendered strings (same py4j-thrift rationale
    # as minhash_signatures).
    band_structs = ", ".join(
        "struct({i} AS band_idx, md5(concat({hs})) AS band_hash)".format(
            i=i,
            hs=", ".join(f"h{i * band_size + j}" for j in range(band_size)),
        )
        for i in range(n_bands)
    )
    bands = sig.selectExpr(
        f"struct(doc, {', '.join(hcols)}) AS item",
        f"inline(array({band_structs}))",
    )
    # sort_array orders structs by their first field: doc is unique, so
    # the item order equals the old sorted doc order and items[0] is
    # the min-doc star keeper.
    # (No size(items) >= 2 filter: both pair expressions are empty on a
    # 1-item bucket, so the explode below drops those rows itself.)
    buckets = bands.groupBy("band_idx", "band_hash").agg(
        F.sort_array(F.collect_list("item")).alias("items")
    )
    # One pipeline: the cap decision is a CASE over the aggregated row,
    # so hot and cold buckets flow through the same single shuffle+agg.
    pairs = buckets.select(
        F.explode(
            F.when(
                F.size("items") <= bucket_cap, F.expr(_ITEM_PAIRS_EXPR)
            ).otherwise(F.expr(_STAR_ITEM_PAIRS_EXPR))
        ).alias("p")
    )
    n_match = " + ".join(
        f"CAST(p.ia.{h} = p.ib.{h} AS BIGINT)" for h in hcols
    )
    return pairs.selectExpr(
        "p.ia.doc AS doc_a",
        "p.ib.doc AS doc_b",
        f"{n_match} AS n_matching_minhashes",
    ).distinct()


_SIG_PAIRS_EXPR = """
    flatten(transform(items, (a, i) ->
        transform(slice(items, i + 2, size(items) - i - 1),
                  b -> struct(a.doc AS doc_a, b.doc AS doc_b,
                              a.sim AS sim_a, b.sim AS sim_b))))
"""


def simhash_candidate_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 8,
    bucket_cap: int = 100,
) -> DataFrame:
    """SimHash near-dup candidates: 64-bit signature (Arrow-batched,
    token-hash-cached UDF), bucketed by four 16-bit bands (a pair
    within hamming ≤ 16/band shares ≥1 band with high probability),
    exact vectorized hamming verify.

    Plan shape (same as MinHash-LSH): signatures computed ONCE, bands
    exploded JVM-side, groupBy(band) to sorted (doc, sim) lists, JVM
    array-combinations for pairs — the signature rides inside the
    bucket struct, so there is no self-join and no sig rejoin. One
    shuffle on the band key; a dup-heavy corpus pays in candidate
    volume (inherent), not in extra passes over the corpus text.

    ``bucket_cap`` mirrors lsh_candidate_pairs: the bucket aggregates
    once to a sorted (doc, sim) list; at or under the cap it emits all
    pairs, over the cap it emits O(B) STAR pairs (keeper = min doc,
    signatures ride inside the structs) from the same aggregated row.

    Returns (doc_a, doc_b, hamming).
    """
    sig = df.select(
        F.col(id_col).alias("doc"), simhash64(F.col(text_col)).alias("sim")
    )
    bands = sig.select(
        F.struct("doc", "sim").alias("item"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(F.col("sim"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("item", "b.band_idx", "b.band_val")
    # sort_array orders structs by first field, so items[0] is the
    # min-doc member — the star keeper — with its signature alongside.
    buckets = (
        bands.groupBy("band_idx", "band_val")
        .agg(F.sort_array(F.collect_list("item")).alias("items"))
        .filter(F.size("items") >= 2)
    )
    # One pipeline, cap decision as a CASE over the aggregated row.
    pairs = (
        buckets.select(
            F.explode(
                F.when(
                    F.size("items") <= bucket_cap, F.expr(_SIG_PAIRS_EXPR)
                ).otherwise(F.expr(_STAR_SIG_PAIRS_EXPR))
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b", "p.sim_a", "p.sim_b")
        .distinct()  # a close pair shares several bands
    )
    return (
        pairs.withColumn("hamming", hamming64(F.col("sim_a"), F.col("sim_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def lineage_cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize a multi-consumer frame once: reliable checkpoint
    when the caller configured a checkpoint dir (cluster posture —
    survives executor loss), localCheckpoint otherwise (same lineage
    cut, no HDFS round-trip). Catalyst does NOT reuse identical
    subtrees consumed by several joins of one plan (0 ReusedExchange,
    measured r8) — without the cut each consumer re-runs the whole
    upstream pipeline.

    The reliable checkpoint is always eager. The local one is lazy
    unless ``eager``: a lazy local checkpoint computes the frame inside
    its first consumer's job, where the SQL plan shows only the
    checkpointed RDD scan, so the upstream operators' metrics (a
    Python worker's run time, say) are never recorded. ``eager=True``
    runs the frame now, as its own "checkpoint" SQL execution with
    every operator's metrics.

    A frame whose optimized plan is already a LocalRelation (e.g. the
    r17 CC driver fast path's label frame) is returned as-is: there is
    no lineage to re-run, and the checkpoint would only add a job and
    replace exact-size LocalTableScan statistics with an RDD scan's
    defaultSizeInBytes (killing downstream auto-broadcast)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "LocalRelation":
        return df
    spark = df.sparkSession
    reliable = spark.sparkContext.getCheckpointDir() is not None
    return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=eager)


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 8,
    threshold: float = 0.5,
    cut_lineage: bool = True,
) -> DataFrame:
    """The production dedup shape: cheap LSH candidates, exact Jaccard
    verification ONLY on candidates — never on all pairs.

    `dedup_minhash_lsh` stops at the minhash ESTIMATE (n matching
    hashes of 8 ≈ 8·J, high variance); `dedup_ngram_jaccard` computes
    exact Jaccard but over every shingle-sharing pair. This operator
    composes them the way a curation pipeline ships: banded LSH
    proposes near-linear candidates, then the exact |A∩B| count runs
    only over candidate docs — the exploded shingle stream is
    SEMI-JOIN-filtered to docs that appear in some candidate pair
    before any pair-shingle join, so the verify cost is proportional
    to candidate volume, not corpus volume.

    Returns (doc_a, doc_b, n_matching_minhashes, jaccard_micros) for
    verified pairs with exact Jaccard ≥ threshold; micros via
    floor(x·1e6 + 0.5) (engine-identical, SURVEY §6).

    ``cut_lineage`` (default on) materializes `cand` and the filtered
    shingle stream once: `cand` is consumed three times and `ex` three
    times below, and Catalyst does not reuse the subtrees — the
    executed no-cut plan held 58 parquet scans; with the cut, ≤ 4.
    Interleaved A/B at 10×, warm rounds (BENCH_TREND r8): cut
    9.4-11.9 s vs no-cut 12.5-21.2 s. Pass False only to inspect the
    full un-truncated plan (tests/test_plans.py does).
    """
    sig = minhash_signatures(df, id_col, text_col, k=k, n_hashes=n_hashes)
    cand = lsh_candidate_pairs(sig, n_hashes=n_hashes)
    if cut_lineage:
        cand = lineage_cut(cand)
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc"))
        .union(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    ex = shingle_exploded(df, id_col, text_col, k=k).join(
        cand_docs, "doc", "left_semi"
    )
    if cut_lineage:
        ex = lineage_cut(ex)
    sizes = ex.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    # NOTE (r7 measured rejection, BENCH_TREND): fusing the size-ratio
    # prefilter onto `cand` before the pair-shingle join — the trick
    # that paid 1.9× for ngram_jaccard — measured 17.2 → 19.8 s at the
    # 10× substrate: LSH candidates are already near-dups with
    # near-identical sizes, so the guard prunes ~nothing and its two
    # extra size joins on the candidate frame are pure cost. On a
    # corpus whose candidate sizes vary it would slot in right here.
    common = (
        cand.join(
            ex.select(F.col("doc").alias("doc_a"), "s"), "doc_a"
        )
        .join(ex.select(F.col("doc").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b", "n_matching_minhashes")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sized = (
        common.join(sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("n_b")), "doc_b")
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        sized.filter(jac >= threshold)
        .select(
            "doc_a",
            "doc_b",
            "n_matching_minhashes",
            F.floor(jac * 1_000_000 + 0.5).cast("long").alias("jaccard_micros"),
        )
    )
