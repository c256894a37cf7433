"""Round-17 optimization pins.

The r17 round restructures hot operators WITHOUT changing what they
compute; these tests pin both halves of that claim:

- `minhash_signatures` now computes each signature component per ROW
  (array_min over the shingle array) instead of explode + groupBy
  min(string) — value-identical by construction, and the plan must
  stay free of the SortAggregate the old string-min aggregation
  forced.
- `cpu_spread` derives the CPU-dense fan-out width from the input
  size (one task per ~128 KiB of source bytes, capped at the core
  count) instead of always using the core count.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF
from utility_service_areas_spark.plans.registry import physical_plan


def _explode_groupby_reference(docs, k=3, n_hashes=8):
    """The pre-r17 signature shape, kept as the semantic reference."""
    from utility_service_areas_spark.functions.textops import (
        minhash_col,
        shingles,
        tokens,
    )

    ex = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(shingles(tokens(F.col("text")), k)).alias("s"),
    )
    return ex.groupBy("doc").agg(
        *[minhash_col(F.col("s"), i).alias(f"h{i}") for i in range(n_hashes)]
    )


def test_minhash_signatures_match_explode_groupby_reference(spark):
    from utility_service_areas_spark.operators.dedup import minhash_signatures
    from utility_service_areas_spark.sources.tables import load_table

    docs = load_table(spark, SMOKE_SF, "documents")
    new = minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=8)
    ref = _explode_groupby_reference(docs)
    assert new.count() == ref.count()
    assert new.exceptAll(ref).count() == 0
    assert ref.exceptAll(new).count() == 0


def test_minhash_signatures_drop_short_docs_like_explode_did(spark):
    from utility_service_areas_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [
            (1, "only two"),
            (2, "exactly three tokens"),
            (3, "   "),
            (4, ""),
            (5, "a b c d e"),
        ],
        "doc_id long, text string",
    )
    sig = minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=2)
    rows = {r["doc"] for r in sig.collect()}
    # explode() dropped empty shingle arrays: docs with < 3 tokens are absent
    assert rows == {2, 5}
    ref = _explode_groupby_reference(docs, k=3, n_hashes=2)
    assert sig.exceptAll(ref).count() == 0
    assert ref.exceptAll(sig).count() == 0


def test_minhash_signature_plan_has_no_sort_aggregate(spark):
    from utility_service_areas_spark.operators.dedup import minhash_signatures
    from utility_service_areas_spark.sources.tables import load_table

    docs = load_table(spark, SMOKE_SF, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=8)
    plan = physical_plan(sig)
    assert "SortAggregate" not in plan
    assert "Generate" not in plan  # no explode on the signature path


def _join_shape_lsh_reference(sig, n_hashes=8, band_size=2, bucket_cap=100):
    """The pre-r17 lsh_candidate_pairs shape (cache sigs, distinct the
    bare pairs, join the signature frame back twice), kept as the
    semantic reference for the in-struct rewrite."""
    from utility_service_areas_spark.operators.dedup import minhash_bands

    sig = sig.cache()
    bands = minhash_bands(sig, n_hashes=n_hashes, band_size=band_size)
    buckets = (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    pairs_expr = (
        "flatten(transform(docs, (a, i) -> "
        "transform(slice(docs, i + 2, size(docs) - i - 1), "
        "b -> struct(a AS doc_a, b AS doc_b))))"
    )
    star_expr = (
        "transform(slice(docs, 2, size(docs) - 1), "
        "b -> struct(docs[0] AS doc_a, b AS doc_b))"
    )
    pairs = (
        buckets.select(
            F.explode(
                F.when(F.size("docs") <= bucket_cap, F.expr(pairs_expr)).otherwise(
                    F.expr(star_expr)
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    siga = sig.select(
        F.col("doc").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(n_hashes)],
    )
    sigb = sig.select(
        F.col("doc").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(n_hashes)],
    )
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("long") for i in range(n_hashes)
    )
    return (
        pairs.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .select("doc_a", "doc_b", n_match.alias("n_matching_minhashes"))
    )


def test_lsh_candidate_pairs_match_join_shape_reference(spark):
    from utility_service_areas_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from utility_service_areas_spark.sources.tables import load_table

    docs = load_table(spark, SMOKE_SF, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=8)
    new = lsh_candidate_pairs(sig)
    ref = _join_shape_lsh_reference(sig)
    assert new.count() == ref.count()
    assert new.exceptAll(ref).count() == 0
    assert ref.exceptAll(new).count() == 0


def test_lsh_candidate_pairs_plan_has_no_joins(spark):
    """The in-struct shape must be join-free: one band shuffle + one
    distinct, the signature frame never re-joined onto the pairs."""
    from utility_service_areas_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from utility_service_areas_spark.sources.tables import load_table

    # The join-shape reference test above caches the sig frame; drop it
    # so the cache manager can't substitute InMemoryTableScan here.
    spark.catalog.clearCache()
    docs = load_table(spark, SMOKE_SF, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=8)
    plan = physical_plan(lsh_candidate_pairs(sig))
    assert "Join" not in plan
    assert "InMemoryTableScan" not in plan  # no sig cache either


def test_pydaemon_preload_covers_heavy_modules():
    from utility_service_areas_spark import pydaemon

    loaded = pydaemon.preload()
    assert list(loaded) == list(pydaemon.PRELOAD_MODULES)


def test_session_wires_preloading_daemon(spark):
    assert (
        spark.conf.get("spark.python.daemon.module")
        == "utility_service_areas_spark.pydaemon"
    )


def test_workers_run_and_see_preloaded_modules(spark):
    """Workers forked from the preloading daemon must (a) work at all
    and (b) inherit the heavy modules without importing them
    per-worker. The probe lists which preload targets are visible in
    the worker's sys.modules; a plain pickled UDF imports none of them
    itself, so a fresh worker only sees them via the daemon fork.
    (With spark.python.worker.reuse a recycled worker could carry them
    from an earlier pandas-UDF task — the assertion is still the
    invariant the daemon guarantees for EVERY worker, fresh or not.)"""
    from pyspark.sql import functions as F

    from utility_service_areas_spark import pydaemon

    @F.udf("array<string>")
    def probe():
        import sys

        from utility_service_areas_spark.pydaemon import PRELOAD_MODULES

        return [m for m in PRELOAD_MODULES if m in sys.modules]

    rows = spark.range(1).select(probe().alias("warm")).collect()
    assert rows[0]["warm"] == list(pydaemon.PRELOAD_MODULES)


def test_cpu_spread_width_tracks_input_size(spark):
    from utility_service_areas_spark.operators.spread import (
        cpu_spread_width,
    )
    from utility_service_areas_spark.sources.tables import load_table

    docs = load_table(spark, SMOKE_SF, "documents")
    target = spark.sparkContext.defaultParallelism
    # sf0.001 documents.parquet is a few tens of KiB: one 128 KiB task
    assert cpu_spread_width(docs, target) == 1
    # tiny per-task budget -> width caps at the core count
    assert cpu_spread_width(docs, target, bytes_per_task=1) == target
    # no input files (in-memory frame) -> old behavior (core count)
    mem = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    assert cpu_spread_width(mem, target) == target


def _repetition_explode_reference(docs):
    """The pre-r17 docs_repetition_signals shape (explode tagged grams,
    count per (doc, gram), re-aggregate per doc), kept as the semantic
    reference for the in-row run-length fold."""
    toks = F.split(F.trim(F.col("text")), r"[ \t\n\x0b\f\r]+")
    grams = F.concat(
        F.expr("transform(toks, t -> struct(1 AS k, t AS g))"),
        F.expr(
            "CASE WHEN size(toks) >= 2 THEN "
            "transform(sequence(1, size(toks) - 1), "
            "  i -> struct(2 AS k, "
            "       concat(element_at(toks, i), ' ', element_at(toks, i + 1)) AS g)) "
            "ELSE array() END"
        ),
    )
    cnt = (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(grams).alias("gr"))
        .groupBy("doc_id", F.col("gr.k").alias("k"), F.col("gr.g").alias("g"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = cnt.groupBy("doc_id").agg(
        F.max(F.when(F.col("k") == 1, F.col("c"))).alias("mu"),
        F.sum(F.when(F.col("k") == 1, F.col("c"))).alias("nt"),
        F.coalesce(
            F.sum(F.when((F.col("k") == 1) & (F.col("c") >= 2), F.col("c"))),
            F.lit(0),
        ).alias("du"),
        F.max(F.when(F.col("k") == 2, F.col("c"))).alias("mb"),
        F.sum(F.when(F.col("k") == 2, F.col("c"))).alias("nb"),
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


def test_repetition_signals_match_explode_reference(spark):
    from utility_service_areas_spark.plans.registry import all_queries

    new = all_queries()["docs_repetition_signals"](spark, SMOKE_SF)
    from utility_service_areas_spark.sources.tables import load_table

    ref = _repetition_explode_reference(load_table(spark, SMOKE_SF, "documents"))
    assert new.count() == ref.count()
    assert new.exceptAll(ref).count() == 0
    assert ref.exceptAll(new).count() == 0


def test_repetition_signals_edge_docs_match_explode_reference(spark):
    """Single-token, all-identical, whitespace-only and chain-repeat
    docs — the cases where run-length bookkeeping could drift from the
    exploded counts (empty bigram arrays, runs ending at the array
    tail, the [''] token from whitespace-only text)."""
    from utility_service_areas_spark.plans.text_queries import (
        docs_repetition_signals,
    )

    docs = spark.createDataFrame(
        [
            (1, "one"),
            (2, "a a a a"),
            (3, "   "),
            (4, "a b a b a"),
            (5, "x y z"),
            (6, "t t"),
        ],
        "doc_id long, text string",
    )
    import utility_service_areas_spark.sources.tables as tables

    ref = _repetition_explode_reference(docs).collect()
    orig = tables.load_table
    try:
        tables.load_table = lambda spark, sf, name: docs
        import utility_service_areas_spark.plans.text_queries as tq

        orig_tq = tq.load_table
        tq.load_table = lambda spark, sf, name: docs
        try:
            new = docs_repetition_signals(spark, "ignored").collect()
        finally:
            tq.load_table = orig_tq
    finally:
        tables.load_table = orig
    assert sorted(map(tuple, new)) == sorted(map(tuple, ref))


def test_repetition_signals_plan_is_map_only(spark):
    """The in-row fold must keep the plan a pure map over the scan:
    no Generate (explode), no aggregation, no shuffle besides the
    cpu_spread repartition."""
    from utility_service_areas_spark.plans.registry import all_queries

    plan = physical_plan(all_queries()["docs_repetition_signals"](spark, SMOKE_SF))
    assert "Generate" not in plan
    assert "HashAggregate" not in plan
    assert "SortAggregate" not in plan


def _cc_ref_pairs(spark):
    # chain 1-2-3-4-5, clique 10-13, isolated edge 20-21, self-ish
    # dense blob 30-33 with redundant edges
    rows = (
        [(i, i + 1) for i in range(1, 5)]
        + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
        + [(20, 21), (30, 31), (31, 32), (32, 33), (30, 33), (30, 32)]
    )
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def test_local_cc_fastpath_matches_distributed_loop(spark, monkeypatch):
    from utility_service_areas_spark.operators import graph

    pairs = _cc_ref_pairs(spark)
    fast = {(r.node, r.comp) for r in graph.connected_components(pairs).collect()}
    monkeypatch.setattr(graph, "_LOCAL_CC_EDGES", 0)
    loop = {(r.node, r.comp) for r in graph.connected_components(pairs).collect()}
    assert fast == loop
    assert fast  # non-empty sanity


def test_local_cc_fastpath_taken_for_small_graphs(spark, monkeypatch):
    from utility_service_areas_spark.operators import graph

    taken = []
    orig = graph._local_cc_fastpath

    def spy(edges):
        out = orig(edges)
        taken.append(out is not None)
        return out

    monkeypatch.setattr(graph, "_local_cc_fastpath", spy)
    graph.connected_components(_cc_ref_pairs(spark)).collect()
    assert taken == [True]


def test_local_cc_cap_falls_back_to_loop(spark, monkeypatch):
    from utility_service_areas_spark.operators import graph

    pairs = _cc_ref_pairs(spark)
    monkeypatch.setattr(graph, "_LOCAL_CC_EDGES", 3)  # graph has more edges
    taken = []
    orig = graph._local_cc_fastpath

    def spy(edges):
        out = orig(edges)
        taken.append(out is not None)
        return out

    monkeypatch.setattr(graph, "_local_cc_fastpath", spy)
    out = graph.connected_components(pairs)
    comp = {r.node: r.comp for r in out.collect()}
    assert taken == [False]  # over the cap: the distributed loop ran
    assert comp[5] == 1 and comp[13] == 10 and comp[21] == 20 and comp[33] == 30


def test_local_cc_string_ids_take_the_loop(spark, monkeypatch):
    from pyspark.sql import functions as F

    from utility_service_areas_spark.operators import graph

    pairs = _cc_ref_pairs(spark).select(
        F.col("doc_a").cast("string").alias("doc_a"),
        F.col("doc_b").cast("string").alias("doc_b"),
    )
    taken = []
    orig = graph._local_cc_fastpath

    def spy(edges):
        out = orig(edges)
        taken.append(out is not None)
        return out

    monkeypatch.setattr(graph, "_local_cc_fastpath", spy)
    comp = {r.node: r.comp for r in graph.connected_components(pairs).collect()}
    assert taken == [False]
    assert comp["5"] == "1" and comp["33"] == "30"


# --- r17 second session: literal frames as local relations ----------


def test_local_df_plans_local_table_scan(spark):
    """local_df must plan literal rows as a LocalTableScan — the list
    overload of createDataFrame plans a parallelized PythonRDD pickle
    stage whose worker pool has its own PythonWorkerFactory key (a
    fresh daemon + preload import storm the first time a query hits
    it mid-session)."""
    from utility_service_areas_spark.operators.localrel import local_df

    df = local_df(spark, [(1, "a"), (2, None)], "k long, v string")
    plan = physical_plan(df)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert {(r.k, r.v) for r in df.collect()} == {(1, "a"), (2, None)}


def test_local_df_empty_has_no_rdd_scan(spark):
    from utility_service_areas_spark.operators.localrel import local_df

    df = local_df(spark, [], "k long, v string")
    plan = physical_plan(df)
    assert "ExistingRDD" not in plan
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "v"]
    assert [f.dataType.typeName() for f in df.schema.fields] == [
        "long",
        "string",
    ]


def test_local_df_name_list_matches_list_path_inference(spark):
    from utility_service_areas_spark.operators.localrel import local_df

    rows = [(100, "p1"), (200, "p2")]
    a = local_df(spark, rows, ["p_partkey", "patch_name"])
    b = spark.createDataFrame(rows, ["p_partkey", "patch_name"])
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_cc_fastpath_labels_are_local_relation(spark):
    """The fast path's label frame must not re-enter Spark through the
    pickle path (measured as a 32-task PythonRDD stage + a ~7 s
    daemon start blocking every task slot mid-bench)."""
    from utility_service_areas_spark.operators import graph

    pairs = _cc_ref_pairs(spark)
    labels = graph.connected_components(pairs)
    plan = physical_plan(labels)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_lineage_cut_is_noop_on_local_relations(spark):
    """Checkpointing a LocalRelation adds a job and replaces its
    exact-size stats with defaultSizeInBytes — lineage_cut must pass
    it through untouched."""
    from utility_service_areas_spark.operators.dedup import lineage_cut
    from utility_service_areas_spark.operators.localrel import local_df

    df = local_df(spark, [(1, 2)], "a long, b long")
    assert lineage_cut(df) is df
    # and a real lineage still gets cut
    real = spark.range(10).selectExpr("id", "id * 2 AS y")
    cut = lineage_cut(real)
    assert cut is not real
