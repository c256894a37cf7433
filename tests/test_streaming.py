"""Streaming == batch equivalence: each streaming transform drained
with availableNow must match its batch twin on the same events data,
modulo append-mode watermark semantics (windows still open at the end
of input are withheld — those must be the ONLY differences).
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF
from utility_service_areas_spark.plans.event_queries import (
    events_sessionize,
    events_tumbling_agg,
)
from utility_service_areas_spark.sources.tables import load_table
from utility_service_areas_spark.streaming.events import (
    dedup_users_within_watermark,
    read_events_stream,
    run_to_memory,
    session_windows,
    sessionize_stateful,
    tumbling_counts,
)


def _max_ts(spark):
    return load_table(spark, SMOKE_SF, "events").agg(F.max("ts")).collect()[0][0]


def test_stream_tumbling_equals_batch(spark):
    stream = read_events_stream(spark, SMOKE_SF)
    assert stream.isStreaming
    run_to_memory(tumbling_counts(stream), "t_tumbling", "append")
    got = {
        (r.hour, r.event_type): (r.n_events, r.sum_value_cents)
        for r in spark.table("t_tumbling").collect()
    }
    want = {
        (r.hour, r.event_type): (r.n_events, r.sum_value_cents)
        for r in events_tumbling_agg(spark, SMOKE_SF).collect()
    }
    # Emitted windows must match the batch twin exactly.
    assert len(got) > 0 and all(got[k] == want[k] for k in got)
    # Only still-open windows (past the final watermark) may be missing.
    cutoff = _max_ts(spark) - dt.timedelta(hours=2)  # watermark + window
    missing = set(want) - set(got)
    assert all(hour >= cutoff for hour, _ in missing), missing


def test_stream_session_window_equals_batch(spark):
    stream = read_events_stream(spark, SMOKE_SF)
    run_to_memory(session_windows(stream), "t_sessions", "append")
    got = {
        (r.user_id, r.session_start): r.n_events
        for r in spark.table("t_sessions").collect()
    }
    want = {
        (r.user_id, r.session_start): r.n_events
        for r in events_sessionize(spark, SMOKE_SF).collect()
    }
    assert len(got) > 0 and all(got[k] == want[k] for k in got)
    # Missing sessions are only the per-user tails still inside the
    # watermark+gap horizon at end of input.
    cutoff = _max_ts(spark) - dt.timedelta(hours=2)
    missing = set(want) - set(got)
    assert all(start >= cutoff for _, start in missing), missing
    assert len(got) / len(want) > 0.9  # the bulk was emitted


def test_stateful_sessionizer_matches_batch_counts(spark):
    stream = read_events_stream(spark, SMOKE_SF)
    run_to_memory(sessionize_stateful(stream), "t_stateful", "update")
    # Update mode emits upserts incl. in-progress sessions: the final
    # state covers every (user, session) of the batch twin.
    got = {}
    for r in spark.table("t_stateful").collect():
        got[(r.user_id, r.session_id)] = r.n_events
    want = {
        (r.user_id, r.session_id): r.n_events
        for r in events_sessionize(spark, SMOKE_SF).collect()
    }
    assert got == want


def test_stream_static_enrichment(spark):
    from utility_service_areas_spark.streaming.events import enrich_with_dim

    stream = read_events_stream(spark, SMOKE_SF)
    dim = load_table(spark, SMOKE_SF, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = enrich_with_dim(stream, dim, "user_id", "c_custkey").select(
        "event_id", "user_id", "c_mktsegment"
    )
    run_to_memory(enriched, "t_enriched", "append")
    rows = spark.table("t_enriched").collect()
    n_events = load_table(spark, SMOKE_SF, "events").count()
    assert len(rows) == n_events  # left join: no event dropped
    # every matched segment agrees with the static dim
    seg = {r.c_custkey: r.c_mktsegment for r in dim.collect()}
    assert all(r.c_mktsegment == seg.get(r.user_id) for r in rows)


def test_stream_dedup_one_per_user(spark):
    stream = read_events_stream(spark, SMOKE_SF)
    run_to_memory(dedup_users_within_watermark(stream), "t_dedup", "append")
    rows = spark.table("t_dedup").collect()
    users = {r.user_id for r in rows}
    assert len(rows) == len(users) > 0


def test_first_seen_daily_matches_batch(spark):
    from utility_service_areas_spark.sources.tables import load_table
    from utility_service_areas_spark.streaming.events import (
        first_seen_daily_counts,
        read_events_stream,
        run_to_memory,
    )

    stream = read_events_stream(spark, SMOKE_SF)
    run_to_memory(first_seen_daily_counts(stream), "t_first_seen", "complete")
    got = {
        r.d: r["count"] for r in spark.sql("SELECT * FROM t_first_seen").collect()
    }
    ev = load_table(spark, SMOKE_SF, "events")
    want = {
        r.d: r.n
        for r in ev.groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # stream dedup keeps the first-ARRIVED row per user; with a single
    # availableNow pass over ordered parquet that is the earliest ts,
    # so per-day first-seen counts must match the batch derivation.
    assert got == want


def test_stream_tdigest_matches_exact_quantiles(spark):
    import numpy as np

    from utility_service_areas_spark.sources.tables import load_table
    from utility_service_areas_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        tdigest_stream,
    )

    stream = read_events_stream(spark, SMOKE_SF)
    run_to_memory(tdigest_stream(stream), "t_tdigest", "update")
    # update mode: last emission per (event_type, q) is the final state
    rows = spark.table("t_tdigest").collect()
    final = {}
    for r in rows:  # memory sink preserves emission order
        final[(r.event_type, r.q)] = r.estimate
    pdf = (
        load_table(spark, SMOKE_SF, "events")
        .select("event_type", "value")
        .toPandas()
    )
    for g, vals in pdf.groupby("event_type")["value"]:
        v = np.sort(vals.to_numpy(dtype=float))
        for q in (0.25, 0.5, 0.75, 0.95):
            est = final[(g, q)]
            rank = np.searchsorted(v, est) / len(v)
            assert abs(rank - q) < 0.02, (g, q, est)


def test_stream_ts_schema_matches_batch(spark):
    """Pinned encoding-drift guard: the stream reader must see the SAME
    normalized timestamps as the batch reader regardless of how the
    driver encoded events.ts (long-nanos vs TIMESTAMP_NTZ). A desync
    here silently lands every stream timestamp in Jan 1970."""
    stream = read_events_stream(spark, SMOKE_SF)
    batch = load_table(spark, SMOKE_SF, "events")
    assert stream.schema["ts"].dataType == batch.schema["ts"].dataType
    run_to_memory(
        stream.groupBy().agg(
            F.max("ts").alias("mx"), F.min("ts").alias("mn")
        ),
        "t_ts_guard",
        output_mode="complete",
    )
    got = spark.table("t_ts_guard").collect()[0]
    want = batch.agg(F.max("ts").alias("mx"), F.min("ts").alias("mn")).collect()[0]
    assert got.mx == want.mx and got.mn == want.mn
    assert got.mx.year >= 2020  # not collapsed to the epoch


def test_stateful_sessionizer_state_survives_micro_batches(spark, tmp_path):
    """The real stateful contract: with maxFilesPerTrigger=1 the events
    arrive as THREE time-ordered micro-batches, so sessions spanning a
    batch boundary only come out right if (last_ts, session_id, count)
    state carries across triggers. Final upserts must equal the batch
    twin exactly (update mode: take the max count per session key)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from utility_service_areas_spark.plans.event_queries import events_sessionize
    from utility_service_areas_spark.sources.tables import (
        normalize_event_ts,
        raw_table_schema,
    )

    src = pq.read_table(SMOKE_SF + "/events.parquet")
    order = pa.compute.sort_indices(src, sort_keys=[("ts", "ascending")])
    src = src.take(order)
    third = max(1, src.num_rows // 3)
    t0 = int(os.path.getmtime(SMOKE_SF + "/events.parquet"))
    for i in range(3):
        lo = i * third
        hi = src.num_rows if i == 2 else (i + 1) * third
        path = str(tmp_path / f"b{i}.parquet")
        pq.write_table(src.slice(lo, hi - lo), path)
        # FileStreamSource orders files by modification time; back-to-back
        # writes can tie at filesystem mtime resolution under suite load and
        # deliver micro-batches out of time order, which the stateful
        # sessionizer (correctly) rejects. Pin the order explicitly.
        os.utime(path, (t0 + i, t0 + i))

    raw = (
        spark.readStream.schema(raw_table_schema(spark, SMOKE_SF, "events"))
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path))
    )
    q = run_to_memory(sessionize_stateful(normalize_event_ts(raw)), "t_mb", "update")
    # Guard against the test silently degenerating to one batch: each of the
    # three files must have arrived as its own non-empty micro-batch, or the
    # cross-boundary state carry isn't being exercised at all.
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) == 3, f"expected 3 non-empty micro-batches, saw {len(fed)}"
    got = {}
    for r in spark.table("t_mb").collect():
        key = (r.user_id, r.session_id)
        got[key] = max(got.get(key, 0), r.n_events)
    want = {
        (r.user_id, r.session_id): r.n_events
        for r in events_sessionize(spark, SMOKE_SF).collect()
    }
    assert got == want


def test_stream_document_dedup_matches_batch_groups(spark):
    """Streaming exact-dedup twin: draining the documents stream must
    emit exactly one row per normalized-text hash — the same group
    count the batch operator reports — and never two rows with the
    same hash."""
    from utility_service_areas_spark.operators.dedup import exact_dedup_groups
    from utility_service_areas_spark.streaming.events import (
        dedup_documents_stream,
        read_documents_stream,
    )

    stream = read_documents_stream(spark, SMOKE_SF)
    run_to_memory(dedup_documents_stream(stream), "t_doc_dedup", "append")
    rows = spark.table("t_doc_dedup").collect()
    hashes = [r.text_hash for r in rows]
    assert len(hashes) == len(set(hashes)) > 0

    batch = exact_dedup_groups(
        load_table(spark, SMOKE_SF, "documents"), "doc_id", "text"
    )
    assert len(hashes) == batch.count()
    # the surviving doc per hash must BE a member of that hash group
    batch_hashes = {r.text_hash for r in batch.collect()}
    assert set(hashes) == batch_hashes


def test_ingest_dedup_stream_matches_batch(spark, tmp_path):
    """r8 stretch (VERDICT r7 task 8): the streaming incremental-ingest
    twin — new docs arriving on a stream, flagged against the PERSISTED
    corpus band index — must equal the batch `dedup_incremental_ingest`
    row for row on the same documents."""
    import os

    from pyspark.sql import functions as F

    from utility_service_areas_spark.operators.dedup import (
        minhash_bands,
        minhash_signatures,
    )
    from utility_service_areas_spark.plans.registry import all_queries
    from utility_service_areas_spark.streaming.events import (
        ingest_dedup_stream,
        read_documents_stream,
        run_to_memory,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))

    # Build the persisted index exactly like tools/stress.py does: the
    # old corpus (doc_id % 10 != 7) banded once, written to parquet.
    sig_path = str(tmp_path / "sig_index.parquet")
    idx_path = str(tmp_path / "band_index.parquet")
    old_sig = minhash_signatures(
        docs.filter(F.col("doc_id") % 10 != 7), "doc_id", "text", k=3, n_hashes=8
    )
    old_sig.write.parquet(sig_path)
    minhash_bands(spark.read.parquet(sig_path)).write.parquet(idx_path)

    stream = read_documents_stream(spark, sf).filter(F.col("doc_id") % 10 == 7)
    out = ingest_dedup_stream(
        stream,
        old_bands=spark.read.parquet(idx_path),
        old_sig=spark.read.parquet(sig_path),
    )
    run_to_memory(out, "t_ingest_dedup", "update")
    got = {
        r.new_doc_id: (r.n_candidates, r.n_dups, r.min_dup_old_id, r.max_matching)
        for r in spark.sql("SELECT * FROM t_ingest_dedup").collect()
    }
    want = {
        r.new_doc_id: (r.n_candidates, r.n_dups, r.min_dup_old_id, r.max_matching)
        for r in all_queries()["dedup_incremental_ingest"](spark, sf).collect()
    }
    assert got == want
    assert len(want) > 0  # the comparison is not vacuous


def test_ingest_dedup_stream_watermarked_matches_batch(spark, tmp_path):
    """ADVICE r8: the long-running-ingest mode — an event-time column
    threaded into the grouping key under a watermark so completed
    per-doc groups are evictable — must produce the SAME rows and the
    SAME output schema as the unbounded-replay mode (the event-time
    column never escapes)."""
    import os

    from pyspark.sql import functions as F

    from utility_service_areas_spark.operators.dedup import (
        minhash_bands,
        minhash_signatures,
    )
    from utility_service_areas_spark.plans.registry import all_queries
    from utility_service_areas_spark.streaming.events import (
        ingest_dedup_stream,
        read_documents_stream,
        run_to_memory,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    sig_path = str(tmp_path / "sig_index.parquet")
    idx_path = str(tmp_path / "band_index.parquet")
    old_sig = minhash_signatures(
        docs.filter(F.col("doc_id") % 10 != 7), "doc_id", "text", k=3, n_hashes=8
    )
    old_sig.write.parquet(sig_path)
    minhash_bands(spark.read.parquet(sig_path)).write.parquet(idx_path)

    stream = (
        read_documents_stream(spark, sf)
        .filter(F.col("doc_id") % 10 == 7)
        .withColumn("ingest_ts", F.timestamp_seconds(F.col("doc_id") + 1_000_000))
    )
    out = ingest_dedup_stream(
        stream,
        old_bands=spark.read.parquet(idx_path),
        old_sig=spark.read.parquet(sig_path),
        event_time_col="ingest_ts",
        watermark_delay="5 minutes",
    )
    assert "ingest_ts" not in out.columns  # schema identical to default mode
    run_to_memory(out, "t_ingest_dedup_wm", "update")
    got = {
        r.new_doc_id: (r.n_candidates, r.n_dups, r.min_dup_old_id, r.max_matching)
        for r in spark.sql("SELECT * FROM t_ingest_dedup_wm").collect()
    }
    want = {
        r.new_doc_id: (r.n_candidates, r.n_dups, r.min_dup_old_id, r.max_matching)
        for r in all_queries()["dedup_incremental_ingest"](spark, sf).collect()
    }
    assert got == want
    assert len(want) > 0


# --- streaming curation-funnel twin (stages 0-2) ----------------------


def _batch_funnel_rows(spark):
    from utility_service_areas_spark.plans.text_queries import (
        curation_funnel_by_source,
    )

    return curation_funnel_by_source(spark, SMOKE_SF).collect()


def test_funnel_gate_counts_stream_matches_batch(spark):
    from utility_service_areas_spark.streaming.events import (
        funnel_gate_counts_stream,
        read_documents_stream,
    )

    stream = read_documents_stream(spark, SMOKE_SF)
    run_to_memory(funnel_gate_counts_stream(stream), "t_funnel_gate", "update")
    got = {}  # last update per source = converged cumulative counts
    for r in spark.table("t_funnel_gate").collect():
        got[r.source] = (r.n0, r.t0, r.n1, r.t1)
    batch = _batch_funnel_rows(spark)
    want0 = {r.source: (r.n_docs, r.n_tokens) for r in batch if r.stage_idx == 0}
    want1 = {r.source: (r.n_docs, r.n_tokens) for r in batch if r.stage_idx == 1}
    assert set(got) == set(want0) and len(got) > 0
    for s, (n0, t0, n1, t1) in got.items():
        assert (n0, t0) == want0[s]
        assert (n1, t1) == want1[s]


def test_funnel_dedup_deltas_sum_to_batch_stage2(spark):
    from utility_service_areas_spark.streaming.events import (
        funnel_exact_dedup_deltas,
        read_documents_stream,
    )

    stream = read_documents_stream(spark, SMOKE_SF)
    run_to_memory(funnel_exact_dedup_deltas(stream), "t_funnel_d", "update")
    agg = (
        spark.table("t_funnel_d")
        .groupBy("source")
        .agg(F.sum("d_docs").alias("n"), F.sum("d_tokens").alias("t"))
        .collect()
    )
    got = {r.source: (r.n, r.t) for r in agg if r.n > 0}
    batch = _batch_funnel_rows(spark)
    want = {
        r.source: (r.n_docs, r.n_tokens)
        for r in batch
        if r.stage_idx == 2 and r.n_docs > 0
    }
    assert got == want and len(want) > 0


def test_funnel_dedup_deltas_emit_corrections(spark, tmp_path):
    """A later micro-batch bringing a SMALLER gate-passing doc_id for
    an already-keepered hash must emit a (-1 old source, +1 new
    source) retraction pair, and the summed deltas must land on the
    min-doc_id keeper — the batch rule, independent of arrival order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from utility_service_areas_spark.streaming.events import (
        _funnel_map_stage,
        funnel_exact_dedup_deltas,
    )

    # A real gate-passing text from the substrate (so p1 is true).
    passing = (
        _funnel_map_stage(load_table(spark, SMOKE_SF, "documents"))
        .filter("p1")
        .limit(1)
        .collect()
    )
    text = (
        load_table(spark, SMOKE_SF, "documents")
        .filter(F.col("doc_id") == passing[0].doc_id)
        .collect()[0]
        .text
    )
    t_tok = passing[0].t
    d = tmp_path / "docs"
    d.mkdir()
    f1, f2 = str(d / "a.parquet"), str(d / "b.parquet")

    def write(path, doc_id, source):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([doc_id], pa.int64()),
                    "source": pa.array([source]),
                    "text": pa.array([text]),
                }
            ),
            path,
        )

    write(f1, 200, "late_src")
    write(f2, 100, "early_src")
    os.utime(f1, (1_000_000, 1_000_000))  # file source orders by mtime
    os.utime(f2, (2_000_000, 2_000_000))
    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    run_to_memory(funnel_exact_dedup_deltas(stream), "t_funnel_corr", "update")
    rows = spark.table("t_funnel_corr").collect()
    # trigger 1: +1 late_src; trigger 2: -1 late_src, +1 early_src
    assert sorted((r.source, r.d_docs, r.d_tokens) for r in rows) == sorted(
        [
            ("late_src", 1, t_tok),
            ("late_src", -1, -t_tok),
            ("early_src", 1, t_tok),
        ]
    )


def test_shard_manifest_stream_matches_batch(spark):
    """S18: the streaming shard manifest, drained, equals the batch
    docs_shard_manifest row for row when run with the batch-derived
    shard count; state is bounded at n_shards rows."""
    from pyspark.sql import functions as F

    from utility_service_areas_spark.plans.pipeline_queries import (
        _SHARD_BUDGET,
    )
    from utility_service_areas_spark.plans.registry import all_queries
    from utility_service_areas_spark.sources.tables import load_table
    from utility_service_areas_spark.streaming.events import (
        read_documents_stream,
        run_to_memory,
        shard_manifest_stream,
    )

    docs = load_table(spark, SMOKE_SF, "documents")
    total = docs.agg(F.sum("n_chars").alias("t")).collect()[0].t
    n_shards = (total + _SHARD_BUDGET - 1) // _SHARD_BUDGET

    out = shard_manifest_stream(
        read_documents_stream(spark, SMOKE_SF), n_shards, _SHARD_BUDGET
    )
    run_to_memory(out, "t_shard_manifest", "update")
    got = {
        r.shard_id: (r.n_docs, r.n_bytes, r.min_doc_id, r.max_doc_id, r.fill_micros)
        for r in spark.sql("SELECT * FROM t_shard_manifest").collect()
    }
    want = {
        r.shard_id: (r.n_docs, r.n_bytes, r.min_doc_id, r.max_doc_id, r.fill_micros)
        for r in all_queries()["docs_shard_manifest"](spark, SMOKE_SF).collect()
    }
    assert got == want
    assert 0 < len(want) <= n_shards


def test_cdc_chunk_index_stream_matches_batch(spark):
    """S19: the streaming CDC chunk index, drained, equals the chunk
    frequency table computed by the batch WINDOW path of
    docs_cdc_chunks — two independent implementations (map-side
    Python chunker vs per-doc ordered window) of the same boundary
    rule."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from utility_service_areas_spark.plans.pipeline_queries import _CDC_MOD
    from utility_service_areas_spark.sources.tables import load_table
    from utility_service_areas_spark.streaming.events import (
        cdc_chunk_index_stream,
        read_documents_stream,
        run_to_memory,
    )

    out = cdc_chunk_index_stream(read_documents_stream(spark, SMOKE_SF))
    run_to_memory(out, "t_cdc_index", "update")
    got = {
        r.h: (r.n_docs, r.first_doc_id)
        for r in spark.sql("SELECT * FROM t_cdc_index").collect()
    }

    docs = load_table(spark, SMOKE_SF, "documents")
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
    want = {
        r.h: (r.n_docs, r.first_doc_id)
        for r in cid.groupBy("doc_id", "chunk_id")
        .agg(F.md5(chunk_text).alias("h"))
        .select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .collect()
    }
    assert got == want
    assert len(want) > 100  # the index is substantively populated


def test_histogram_quantile_stream_matches_batch_bins(spark):
    """S20: the streaming fixed-range histogram, drained with the
    batch-derived per-type bounds, equals the batch query's bin
    counts row for row (the binning expression is operand-order
    identical); state is bounded at types x n_bins rows."""
    from pyspark.sql import functions as F

    from utility_service_areas_spark.plans.analytics_queries import (
        _HIST_BINS,
    )
    from utility_service_areas_spark.sources.tables import load_table
    from utility_service_areas_spark.streaming.events import (
        histogram_quantile_stream,
        read_events_stream,
        run_to_memory,
    )

    ev = load_table(spark, SMOKE_SF, "events")
    # one stream per event_type with that type's batch-derived bounds
    # (the fixed-range posture); drain and pool the counts
    bounds = {
        r.event_type: (r.lo, r.hi)
        for r in ev.groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    got = {}
    for i, (et, (lo, hi)) in enumerate(sorted(bounds.items())):
        out = histogram_quantile_stream(
            read_events_stream(spark, SMOKE_SF).filter(F.col("event_type") == et),
            lo,
            hi,
            _HIST_BINS,
        )
        run_to_memory(out, f"t_hist_{i}", "update")
        for r in spark.sql(f"SELECT * FROM t_hist_{i}").collect():
            got[(r.event_type, r.bin)] = r.n_bin

    stats = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    binned = ev.select("event_type", "value").join(F.broadcast(stats), "event_type")
    bin_col = F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long")).otherwise(
        F.least(
            F.lit(_HIST_BINS - 1).cast("long"),
            F.floor(
                (F.col("value") - F.col("lo"))
                * float(_HIST_BINS)
                / (F.col("hi") - F.col("lo"))
            ),
        )
    )
    want = {
        (r.event_type, r.bin): r.n_bin
        for r in binned.withColumn("bin", bin_col)
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n_bin"))
        .collect()
    }
    assert got == want
    assert len(want) > 50


def test_audience_counts_stream_folds_to_batch_matrix(spark):
    """S21: the streaming per-(user, type) counts, drained and folded
    with the batch query's own bitmask arithmetic, reproduce
    event_audience_overlap's matrix exactly; state is entity-bounded
    (|users| x types rows)."""
    from pyspark.sql import functions as F

    from utility_service_areas_spark.plans.analytics_queries import (
        _CORE_AUDIENCE_MIN,
        _EVENT_TYPE_BITS,
        _TYPE_PAIRS,
    )
    from utility_service_areas_spark.plans.registry import all_queries
    from utility_service_areas_spark.streaming.events import (
        audience_counts_stream,
        read_events_stream,
        run_to_memory,
    )

    out = audience_counts_stream(read_events_stream(spark, SMOKE_SF))
    run_to_memory(out, "t_audience", "update")
    drained = spark.sql("SELECT * FROM t_audience").collect()
    # entity-bounded state: one row per (user, type)
    assert len(drained) == len({(r.user_id, r.event_type) for r in drained})

    bit_of = dict(_EVENT_TYPE_BITS)
    masks: dict[int, int] = {}
    for r in drained:
        if r.n >= _CORE_AUDIENCE_MIN:
            masks[r.user_id] = masks.get(r.user_id, 0) | (1 << bit_of[r.event_type])
    got = {}
    for a, i, b, j in _TYPE_PAIRS:
        ua = sum((m >> i) & 1 for m in masks.values())
        ub = sum((m >> j) & 1 for m in masks.values())
        both = sum(((m >> i) & 1) * ((m >> j) & 1) for m in masks.values())
        got[(a, b)] = (ua, ub, both)

    want = {
        (r.type_a, r.type_b): (r.users_a, r.users_b, r.users_both)
        for r in all_queries()["event_audience_overlap"](spark, SMOKE_SF).collect()
    }
    assert got == want
    assert any(v[2] > 0 for v in want.values())


def test_drift_counts_stream_folds_to_batch_scores(spark):
    """S22: the streaming (source, bin) cohort counts, drained and
    folded with the batch query's integer chi-square arithmetic,
    reproduce source_length_drift exactly; state is entity-bounded
    (occupied source x bin rows)."""
    from utility_service_areas_spark.plans.registry import all_queries
    from utility_service_areas_spark.streaming.events import (
        drift_counts_stream,
        read_documents_stream,
        run_to_memory,
    )

    out = drift_counts_stream(read_documents_stream(spark, SMOKE_SF))
    run_to_memory(out, "t_drift", "update")
    drained = spark.sql("SELECT * FROM t_drift").collect()
    assert len(drained) == len({(r.source, r.bin) for r in drained})

    got = {}
    for r in drained:
        na, nb, chi = got.get(r.source, (0, 0, 0))
        got[r.source] = (
            na + r.a,
            nb + r.b,
            chi + ((r.a - r.b) * (r.a - r.b) * 1000) // (r.a + r.b),
        )

    want = {
        r.source: (r.n_a, r.n_b, r.chi2_milli)
        for r in all_queries()["source_length_drift"](spark, SMOKE_SF).collect()
    }
    assert got == want
    assert any(v[2] > 0 for v in want.values())


def test_hourly_counts_stream_folds_to_batch_bursts(spark):
    """S23: the streaming hourly counts, drained and folded with the
    batch query's integer burst arithmetic, reproduce
    events_burst_detection exactly."""
    from utility_service_areas_spark.plans.registry import all_queries
    from utility_service_areas_spark.streaming.events import (
        hourly_counts_stream,
        read_events_stream,
        run_to_memory,
    )

    out = hourly_counts_stream(read_events_stream(spark, SMOKE_SF))
    run_to_memory(out, "t_hourly", "update")
    drained = {
        (r.event_type, r.h): r.cnt
        for r in spark.sql("SELECT * FROM t_hourly").collect()
    }

    import datetime

    got = {}
    by_type: dict = {}
    for (et, h), cnt in drained.items():
        by_type.setdefault(et, {})[h] = cnt
    for et, sparse in by_type.items():
        # densify onto the hour calendar (zero-fill) — the batch
        # query's gapfill step, replicated drain-side
        h0, h1 = min(sparse), max(sparse)
        rows, h = [], h0
        while h <= h1:
            rows.append((h, sparse.get(h, 0)))
            h = h + datetime.timedelta(hours=1)
        for i, (h, cnt) in enumerate(rows):
            trail_rows = rows[max(0, i - 24) : i]
            trail = sum(c for _, c in trail_rows)
            n_trail = len(trail_rows)
            burst = 1 if n_trail >= 12 and cnt * n_trail * 10 > 15 * trail else 0
            got[(et, h)] = (cnt, trail, n_trail, burst)

    want = {
        (r.event_type, r.h): (r.cnt, r.trail_cnt, r.n_trail, r.burst)
        for r in all_queries()["events_burst_detection"](spark, SMOKE_SF).collect()
    }
    assert got == want
    assert any(v[3] == 1 for v in want.values())


def test_hourly_counts_stream_evicts_completed_hours(spark, tmp_path):
    """ADVICE r9: the S23 rollup must key on F.window('ts','1 hour') —
    grouping by a date_trunc alias carries no watermark metadata, so
    StateStoreSave never evicted and state grew with every (type, hour)
    forever. Two time-ordered files drained one-per-batch: the watermark
    set by batch 1 must REMOVE completed day-1 hour windows during
    batch 2 (numRowsRemoved > 0, final state < total groups), while the
    drained counts still equal the batch rollup row-for-row."""
    import datetime as dt
    import glob
    import os
    import shutil

    from utility_service_areas_spark.streaming.events import (
        hourly_counts_stream,
    )

    rows_a, rows_b = [], []
    d1 = dt.datetime(2024, 3, 1)
    d2 = dt.datetime(2024, 3, 2)
    for et in ("click", "view", "buy"):
        for h in range(10):
            for i in range(1 + (h % 3)):
                rows_a.append((et, d1 + dt.timedelta(hours=h, minutes=i)))
                rows_b.append((et, d2 + dt.timedelta(hours=h, minutes=i)))

    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    for name, rows, mtime in (("a", rows_a, 1_000), ("b", rows_b, 2_000)):
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        out = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.parquet(out)
        part = glob.glob(os.path.join(out, "part-*.parquet"))[0]
        dest = str(stream_dir / f"{name}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))  # oldest-first file-source order

    stream = (
        spark.readStream.schema("event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    q = (
        hourly_counts_stream(stream, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("t_hourly_evict")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    removed = sum(
        so["numRowsRemoved"] for p in progresses for so in p["stateOperators"]
    )
    final_state = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    n_groups = 3 * 20  # 3 types x (10 day-1 + 10 day-2) hours
    assert removed > 0, "watermark never evicted any completed hour"
    assert final_state < n_groups

    got = {
        (r.event_type, r.h): r.cnt
        for r in spark.sql("SELECT * FROM t_hourly_evict").collect()
    }
    batch = spark.createDataFrame(
        rows_a + rows_b, "event_type string, ts timestamp"
    )
    want = {
        (r.event_type, r.h): r.cnt
        for r in batch.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("h")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .collect()
    }
    assert got == want


def test_bootstrap_sums_stream_folds_to_batch_ci(spark):
    """S24: the streaming per-replicate Poisson-bootstrap sums,
    drained and folded with the batch rank arithmetic (integer order
    statistics at ranks 2/63, tiebreak by replicate id), reproduce
    BOTH batch CI variants' full output rows; state is fixed at
    _BOOT_REPLICATES + 1 rows (the replicate index + the r=-1 point
    sum) regardless of stream volume."""
    from utility_service_areas_spark.plans.analytics_queries import (
        _BOOT_REPLICATES,
        revenue_bootstrap_ci,
        revenue_bootstrap_ci_fast_full,
    )
    from utility_service_areas_spark.streaming.events import (
        bootstrap_sums_stream,
        read_orders_stream,
        run_to_memory,
    )

    # the xxhash seam's FULL CI surface lives in the _full helper since
    # r14 (the registered key carries the reduced driver-oracled
    # projection); the stream must fold to the full bounds of both
    for seam, batch_fn in (
        ("xxhash64", revenue_bootstrap_ci_fast_full),
        ("md5", revenue_bootstrap_ci),
    ):
        out = bootstrap_sums_stream(read_orders_stream(spark, SMOKE_SF), seam)
        run_to_memory(out, f"t_boot_{seam}", "update")
        drained = {
            r.r: r.s for r in spark.sql(f"SELECT * FROM t_boot_{seam}").collect()
        }
        assert len(drained) == _BOOT_REPLICATES + 1
        sums = sorted((s, r) for r, s in drained.items() if r >= 0)
        got = (drained[-1], sums[1][0], sums[_BOOT_REPLICATES - 2][0])
        want = batch_fn(spark, SMOKE_SF).collect()[0]
        assert got == (
            want.point_sum_cents,
            want.ci_lo_cents,
            want.ci_hi_cents,
        ), seam


def test_kmv_sketch_stream_matches_batch(spark):
    """S25: one availableNow drain of the streaming KMV fold emits
    exactly the batch `_kmv_sketch` rows — state equality, the
    strongest pin (any downstream estimate folds identically)."""
    from utility_service_areas_spark.plans.analytics_queries import _kmv_sketch
    from utility_service_areas_spark.sources.tables import load_table
    from utility_service_areas_spark.streaming.events import (
        kmv_sketch_stream,
        read_orders_stream,
        run_to_memory,
    )

    out = kmv_sketch_stream(read_orders_stream(spark, SMOKE_SF))
    run_to_memory(out, "t_kmv", "update")
    drained = {
        (r.o_orderpriority, r.rk, r.hv)
        for r in spark.sql("SELECT * FROM t_kmv").collect()
    }
    want = {
        (r.o_orderpriority, r.rk, r.hv)
        for r in _kmv_sketch(
            load_table(spark, SMOKE_SF, "orders"), "o_orderpriority", "o_custkey"
        ).collect()
    }
    assert drained == want


def test_kmv_sketch_stream_incremental_fold(spark, tmp_path):
    """S25 incrementality: two micro-batches (orders split by parity,
    one file per trigger) must converge to the full-data batch sketch.
    The i-th smallest of a growing set is monotone nonincreasing, so
    the element-wise MIN over all update-mode emissions per (key, rk)
    IS the final state — no batch-id bookkeeping needed."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from utility_service_areas_spark.plans.analytics_queries import _kmv_sketch
    from utility_service_areas_spark.sources.tables import load_table
    from utility_service_areas_spark.streaming.events import kmv_sketch_stream

    orders = load_table(spark, SMOKE_SF, "orders").select(
        "o_orderpriority", "o_custkey", "o_orderkey"
    )
    stream_dir = tmp_path / "orders_stream"
    stream_dir.mkdir()
    for name, par, mtime in (("a", 0, 1_000), ("b", 1, 2_000)):
        out = str(tmp_path / f"stage_{name}")
        orders.filter(F.col("o_orderkey") % 2 == par).coalesce(1).write.parquet(out)
        part = glob.glob(os.path.join(out, "part-*.parquet"))[0]
        dest = str(stream_dir / f"{name}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    stream = (
        spark.readStream.schema(
            "o_orderpriority string, o_custkey bigint, o_orderkey bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    q = (
        kmv_sketch_stream(stream)
        .writeStream.format("memory")
        .queryName("t_kmv_inc")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream drain timed out"
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 2, "expected one micro-batch per file"

    folded = {
        (r.o_orderpriority, r.rk, r.hv)
        for r in spark.sql(
            "SELECT o_orderpriority, rk, min(hv) AS hv FROM t_kmv_inc GROUP BY 1, 2"
        ).collect()
    }
    want = {
        (r.o_orderpriority, r.rk, r.hv)
        for r in _kmv_sketch(
            load_table(spark, SMOKE_SF, "orders"), "o_orderpriority", "o_custkey"
        ).collect()
    }
    assert folded == want


def test_daily_ohlc_stream_matches_batch(spark):
    """S26: one availableNow drain of the watermarked daily OHLC
    rollup equals the batch orders_daily_ohlc row for row — including
    the positional open/close (min_by/max_by state merges carry the
    (value, key) pair, so merge order across tasks is immaterial)."""
    from utility_service_areas_spark.plans.registry import all_queries
    from utility_service_areas_spark.streaming.events import (
        daily_ohlc_stream,
        read_orders_stream,
        run_to_memory,
    )

    out = daily_ohlc_stream(read_orders_stream(spark, SMOKE_SF))
    run_to_memory(out, "t_ohlc", "update")
    drained = {
        r.day: (
            r.n_orders,
            r.open_cents,
            r.high_cents,
            r.low_cents,
            r.close_cents,
            r.volume_cents,
        )
        for r in spark.sql("SELECT * FROM t_ohlc").collect()
    }
    want = {
        r.day: (
            r.n_orders,
            r.open_cents,
            r.high_cents,
            r.low_cents,
            r.close_cents,
            r.volume_cents,
        )
        for r in all_queries()["orders_daily_ohlc"](spark, SMOKE_SF).collect()
    }
    assert drained == want


def test_daily_ohlc_stream_evicts_completed_days(spark, tmp_path):
    """S26 eviction: the day key space grows with time, so the group
    key must be F.window (watermark metadata) — two time-ordered files
    drained one per micro-batch must REMOVE completed day-1 bars from
    the state store during batch 2 while the drained bars still fold
    to the batch rollup (element-wise last emission per day == final
    bar; both batches emit disjoint days here, so plain dict fold)."""
    import datetime as dt
    import glob
    import os
    import shutil

    from utility_service_areas_spark.plans.registry import all_queries
    from utility_service_areas_spark.streaming.events import daily_ohlc_stream

    rows_a = [
        (1, dt.date(2024, 3, 1), 10.00),
        (3, dt.date(2024, 3, 1), 99.00),
        (5, dt.date(2024, 3, 2), 5.00),
    ]
    rows_b = [
        (7, dt.date(2024, 3, 10), 20.00),
        (9, dt.date(2024, 3, 11), 1.00),
    ]
    stream_dir = tmp_path / "orders_stream"
    stream_dir.mkdir()
    all_rows = []
    for name, rows, mtime in (("a", rows_a, 1_000), ("b", rows_b, 2_000)):
        all_rows += rows
        df = spark.createDataFrame(
            rows, "o_orderkey long, o_orderdate date, o_totalprice double"
        )
        out = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.parquet(out)
        part = glob.glob(os.path.join(out, "part-*.parquet"))[0]
        dest = str(stream_dir / f"{name}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    stream = (
        spark.readStream.schema(
            "o_orderkey long, o_orderdate date, o_totalprice double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    q = (
        daily_ohlc_stream(stream, watermark="2 days")
        .writeStream.format("memory")
        .queryName("t_ohlc_evict")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream drain timed out"
    removed = sum(
        op["numRowsRemoved"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert removed > 0, "watermark never evicted completed days"

    drained = {
        r.day: (r.n_orders, r.open_cents, r.close_cents, r.volume_cents)
        for r in spark.sql("SELECT * FROM t_ohlc_evict").collect()
    }
    # batch twin over the union substrate
    full = str(tmp_path / "full")
    os.makedirs(full, exist_ok=True)
    spark.createDataFrame(
        all_rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(full, "orders.parquet")
    )
    want = {
        r.day: (r.n_orders, r.open_cents, r.close_cents, r.volume_cents)
        for r in all_queries()["orders_daily_ohlc"](spark, full).collect()
    }
    assert drained == want


def test_variant_stats_stream_matches_batch(spark):
    """S30: one availableNow drain of the update-mode VARIANT-typed
    aggregation equals batch events_variant_stats row for row — the
    parse is stateless map-side, count/sum/max merge incrementally."""
    from utility_service_areas_spark.plans.registry import all_queries
    from utility_service_areas_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        variant_stats_stream,
    )

    out = variant_stats_stream(read_events_stream(spark, SMOKE_SF))
    run_to_memory(out, "t_variant", "update")
    drained = {
        r.event_type: (r.n_events, r.sum_k, r.max_k)
        for r in spark.sql("SELECT * FROM t_variant").collect()
    }
    want = {
        r.event_type: (r.n_events, r.sum_k, r.max_k)
        for r in all_queries()["events_variant_stats"](spark, SMOKE_SF).collect()
    }
    assert drained == want and len(drained) > 0


def test_cdc_apply_stream_survives_out_of_order_batches(spark, tmp_path):
    """S32: the CDC latest-version state fold must pick the highest
    VERSION even when versions arrive out of order ACROSS micro-batch
    boundaries (v3 in batch 1, v2 in batch 2 — the arrival order a
    naive last-write-wins fold would get wrong). maxFilesPerTrigger=1
    forces one batch per dropped file; the final update emission per
    key must equal the known winners, including a delete that must
    beat an earlier-arriving lower-version update."""
    import os

    from utility_service_areas_spark.streaming.events import cdc_apply_stream

    d = tmp_path / "cdc"
    d.mkdir()
    schema = "k long, v long, op string, bal_cents long"
    # batch 1: the HIGH versions arrive first
    spark.createDataFrame(
        [(1, 3, "U", 300), (2, 3, "D", None), (3, 1, "U", 100)], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "f1.parquet"))
    # batch 2: stale lower versions + one genuinely newer row
    spark.createDataFrame(
        [(1, 2, "U", 200), (2, 2, "U", 999), (3, 4, "U", 400)], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "f2.parquet"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(d))
    )
    q = (
        cdc_apply_stream(stream)
        .writeStream.format("memory")
        .queryName("t_cdc")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "drain timed out"
    rows = spark.sql(
        "SELECT * FROM t_cdc"
    ).collect()
    # last emission per key (memory sink appends update-mode emissions
    # in batch order; take the final state per key)
    final = {}
    for r in rows:
        final[r.k] = (r.v, r.op, r.bal_cents)
    assert final[1] == (3, "U", 300)  # v2 arriving later never regresses
    assert final[2] == (3, "D", None)  # delete outranks the late v2 update
    assert final[3] == (4, "U", 400)  # genuinely newer row does win


def test_stream_inference_twin_matches_batch(spark, tmp_path):
    """S36: scoring the documents STREAM through the model-inference
    seam (deterministic fake, 3 micro-batches) emits exactly the
    batch infer_batches rows — outputs, statuses, and the malformed-
    input quarantine included (a planted null-text doc must come out
    status='invalid' from both paths)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from utility_service_areas_spark.operators.inference import (
        fake_hash_model,
        infer_batches,
    )
    from utility_service_areas_spark.sources.tables import raw_table_schema
    from utility_service_areas_spark.streaming.events import (
        score_documents_stream,
    )

    src = pq.read_table(SMOKE_SF + "/documents.parquet")
    # plant a malformed row so the quarantine path crosses the stream
    bad = pa.table(
        {
            "doc_id": pa.array([999_999], pa.int64()),
            "text": pa.array([None], pa.string()),
            "lang": pa.array(["en"]),
            "source": pa.array(["srcX"]),
            "n_chars": pa.array([0], pa.int64()),
        }
    )
    src = pa.concat_tables([src.select(bad.column_names), bad])
    third = max(1, src.num_rows // 3)
    t0 = 1_700_000_000
    d = tmp_path / "docs"
    d.mkdir()
    for i in range(3):
        lo = i * third
        hi = src.num_rows if i == 2 else (i + 1) * third
        path = str(d / f"b{i}.parquet")
        pq.write_table(src.slice(lo, hi - lo), path)
        os.utime(path, (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(raw_table_schema(spark, SMOKE_SF, "documents"))
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = run_to_memory(score_documents_stream(stream), "t_infer", "append")
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) == 3

    def key(rows):
        return {
            r.doc_id: (
                None if r.output is None else tuple(r.output),
                r.status,
                r.error,
            )
            for r in rows
        }

    got = key(spark.table("t_infer").collect())
    batch_df = spark.createDataFrame(
        spark.read.parquet(str(d)).collect(),
        spark.read.parquet(str(d)).schema,
    )
    want = key(
        infer_batches(
            batch_df.select("doc_id", "text"),
            model_fn=fake_hash_model,
            output_dim=4,
        ).collect()
    )
    assert got == want
    assert got[999_999][1] == "invalid"
    assert sum(1 for v in got.values() if v[1] == "ok") == len(got) - 1


def _three_file_docs(spark, tmp_path, with_extra=None):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(SMOKE_SF + "/documents.parquet")
    third = max(1, src.num_rows // 3)
    t0 = 1_700_100_000
    d = tmp_path / "docs"
    d.mkdir()
    for i in range(3):
        lo = i * third
        hi = src.num_rows if i == 2 else (i + 1) * third
        path = str(d / f"b{i}.parquet")
        pq.write_table(src.slice(lo, hi - lo), path)
        os.utime(path, (t0 + i, t0 + i))
    return str(d)


def test_stream_bm25_index_maintenance_equals_batch_build(spark, tmp_path):
    """S38: feeding the documents stream through bm25_index_stream_writer
    (3 micro-batches) yields an index that answers the #219 workload
    ROW-IDENTICALLY to one built in a single batch over the same corpus
    — the exactness of incremental add, exercised through Structured
    Streaming. A replayed batch (simulated retry) changes nothing:
    first-writer-wins doc_ids make the fold idempotent."""
    from utility_service_areas_spark.operators.text_index import (
        add_to_bm25_index,
        build_bm25_index,
        load_bm25_index,
        search_bm25_index,
    )
    from utility_service_areas_spark.plans.text_queries import _BM25_QUERIES
    from utility_service_areas_spark.sources.tables import (
        load_table,
        raw_table_schema,
    )
    from utility_service_areas_spark.streaming.events import (
        bm25_index_stream_writer,
    )

    d = _three_file_docs(spark, tmp_path)
    stream = (
        spark.readStream.schema(raw_table_schema(spark, SMOKE_SF, "documents"))
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    idx_stream = str(tmp_path / "idx_stream")
    q = (
        bm25_index_stream_writer(stream, idx_stream)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) == 3  # three real micro-batches folded in

    idx_batch = str(tmp_path / "idx_batch")
    build_bm25_index(load_table(spark, SMOKE_SF, "documents"), idx_batch)

    qterms = spark.createDataFrame(
        [(qid, t) for qid, qs in _BM25_QUERIES for t in qs.split()],
        "query_id string, t string",
    )
    got = sorted(map(tuple, search_bm25_index(spark, idx_stream, qterms).collect()))
    want = sorted(map(tuple, search_bm25_index(spark, idx_batch, qterms).collect()))
    assert got == want and len(got) == 30

    # simulated retry: re-add micro-batch 0's docs — a no-op
    m_before = load_bm25_index(spark, idx_stream)[0]
    add_to_bm25_index(
        spark, idx_stream, spark.read.parquet(os.path.join(d, "b0.parquet"))
    )
    m_after = load_bm25_index(spark, idx_stream)[0]
    assert (m_after["n_docs"], m_after["l_total"]) == (
        m_before["n_docs"],
        m_before["l_total"],
    )


def test_stream_versioned_sink_is_exactly_once_across_retry(spark, tmp_path):
    """S39: the versioned-table streaming sink commits one version per
    micro-batch keyed txn_id='stream-{batch_id}'; draining the 3-file
    documents stream gives exactly 3 versions whose latest equals the
    batch table, and REPLAYING a batch's commit (the foreachBatch
    retry window) returns the already-committed version instead of
    appending a duplicate."""
    from utility_service_areas_spark.sources.tables import (
        load_table,
        raw_table_schema,
    )
    from utility_service_areas_spark.sources.versioned import (
        list_versions,
        read_version,
        txn_version,
        write_version,
    )
    from utility_service_areas_spark.streaming.events import (
        versioned_table_stream_writer,
    )

    d = _three_file_docs(spark, tmp_path)
    stream = (
        spark.readStream.schema(raw_table_schema(spark, SMOKE_SF, "documents"))
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    t = str(tmp_path / "tbl")
    q = (
        versioned_table_stream_writer(stream, t)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert list_versions(t) == [0, 1, 2]

    latest = read_version(spark, t)
    want = load_table(spark, SMOKE_SF, "documents")
    assert latest.count() == want.count()
    assert latest.exceptAll(want).count() == 0

    # retry replay: same txn_id -> same version, no new commit
    replay = spark.read.parquet(os.path.join(d, "b2.parquet"))
    v = write_version(replay, t, mode="append", txn_id="stream-2")
    assert v == txn_version(t, "stream-2") == 2
    assert list_versions(t) == [0, 1, 2]
    assert read_version(spark, t).count() == want.count()


def test_logreg_online_stream_matches_python_integer_fold(spark, tmp_path):
    """S40: batch-train #259, deploy its weights + frozen means into
    the online state, stream the corpus as 3 micro-batches — the
    drained weight state is EXACTLY the plain-Python integer fold over
    the same splits (cross-IMPLEMENTATION replay of the bit-exact
    state discipline, the strongest pin available for a non-SQL
    streaming op); a replayed micro-batch is a no-op (exactly-once
    across sink retries)."""
    from utility_service_areas_spark.functions.textops import STOPWORDS
    from utility_service_areas_spark.plans.pipeline_queries import (
        _LOGREG_Y_CHARS,
        docs_quality_logreg_train,
    )
    from utility_service_areas_spark.sources.tables import raw_table_schema
    from utility_service_areas_spark.streaming.events import (
        init_logreg_online_state,
        load_logreg_online_state,
        logreg_online_apply_batch,
        logreg_online_stream_writer,
    )

    model = docs_quality_logreg_train(spark, SMOKE_SF).collect()[0]
    mu = (model.mu_ntok, model.mu_ndist, model.mu_nstop)
    w_init = (model.w_bias, model.w_ntok, model.w_ndist, model.w_nstop)
    sp = str(tmp_path / "logreg_state.json")
    init_logreg_online_state(sp, mu, w_init)

    d = _three_file_docs(spark, tmp_path)
    stream = (
        spark.readStream.schema(raw_table_schema(spark, SMOKE_SF, "documents"))
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        logreg_online_stream_writer(stream, sp)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    state = load_logreg_online_state(sp)
    assert state["n_batches"] == 3 and state["last_batch_id"] == 2
    assert state["n_docs_seen"] == 500
    assert [h["n"] for h in state["history"]] == [166, 166, 168]

    # plain-Python integer fold over the same splits, same order
    def tdiv(a, b):
        quot = abs(a) // b
        return quot if a >= 0 else -quot

    w = list(w_init)
    for i in range(3):
        rows = spark.read.parquet(os.path.join(d, f"b{i}.parquet")).select(
            "text", "n_chars"
        ).collect()
        g = [0, 0, 0, 0]
        for r in rows:
            toks = r.text.strip().split()
            x = (
                1,
                len(toks) - mu[0],
                len(set(toks)) - mu[1],
                sum(1 for t in toks if t in STOPWORDS) - mu[2],
            )
            y = 1_000_000 if r.n_chars >= _LOGREG_Y_CHARS else 0
            z = sum(wi * xi for wi, xi in zip(w, x))
            p = min(1_000_000, max(0, 500_000 + tdiv(z, 4)))
            for j in range(4):
                g[j] += (p - y) * x[j]
        den = len(rows) * 500
        w = [wi - tdiv(gi, den) for wi, gi in zip(w, g)]
    assert state["w"] == w

    # replayed micro-batch (sink-side retry): state unchanged
    again = logreg_online_apply_batch(
        spark.read.parquet(os.path.join(d, "b0.parquet")), 0, sp
    )
    assert again["w"] == w and again["n_batches"] == 3
    assert load_logreg_online_state(sp)["w"] == w


def test_online_sweep_refresh_zero_steps_equals_batch_sweep(spark, tmp_path):
    """VERDICT r15 task #6 pin: the S40 operating-point refresh run
    against a state with ZERO online steps reproduces the batch #260
    sweep verbatim — the refresh provably degenerates to the batch
    pick when nothing has drifted."""
    from tests.conftest import SMOKE_SF
    from utility_service_areas_spark.plans.pipeline_queries import (
        _LOGREG_LRD,
        _logreg_fit,
        docs_logreg_pr_sweep,
    )
    from utility_service_areas_spark.streaming.events import (
        init_logreg_online_state,
        logreg_online_pr_sweep,
    )

    fc, w, mu = _logreg_fit(spark, SMOKE_SF)
    wrow, murow = w.collect()[0], mu.collect()[0]
    sp = str(tmp_path / "state.json")
    init_logreg_online_state(
        sp,
        mu=(murow.m1, murow.m2, murow.m3),
        w=(wrow.w0, wrow.w1, wrow.w2, wrow.w3),
        lr_den=_LOGREG_LRD,
    )
    from utility_service_areas_spark.sources.tables import load_table

    docs = load_table(spark, SMOKE_SF, "documents")
    got = sorted(
        tuple(r) for r in logreg_online_pr_sweep(docs, sp).collect()
    )
    want = sorted(
        tuple(r) for r in docs_logreg_pr_sweep(spark, SMOKE_SF).collect()
    )
    assert got == want


def test_online_sweep_refresh_moves_after_steps(spark, tmp_path):
    """After real online steps the refreshed sweep differs from the
    batch table (the weights moved), and the registry key's weight
    columns equal the state the steps actually left behind."""
    from tests.conftest import SMOKE_SF
    from utility_service_areas_spark.plans.pipeline_queries import (
        docs_logreg_pr_sweep,
        logreg_online_sweep_refresh,
    )

    refreshed = logreg_online_sweep_refresh(spark, SMOKE_SF).collect()
    batch = {r.threshold: r for r in docs_logreg_pr_sweep(spark, SMOKE_SF).collect()}
    assert len(refreshed) == len(batch) == 9
    w_cols = {(r.w_bias, r.w_ntok, r.w_ndist, r.w_nstop) for r in refreshed}
    assert len(w_cols) == 1  # one trajectory, stamped on every row
    moved = any(
        (r.tp, r.fp, r.fn, r.tn)
        != (batch[r.threshold].tp, batch[r.threshold].fp,
            batch[r.threshold].fn, batch[r.threshold].tn)
        for r in refreshed
    )
    assert moved  # three gradient steps actually shifted the cut


def test_vector_stream_writer_requires_explicit_app_id(spark):
    """ADVICE r15 #1: exactly-once across restart-from-checkpoint (the
    common failure) must not hinge on an optional argument — app_id is
    required, and minting a fresh one is an explicit opt-in."""
    from utility_service_areas_spark.streaming.events import (
        vector_index_stream_writer,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    with pytest.raises(ValueError, match="stable app_id"):
        vector_index_stream_writer(stream, "/tmp/nope-idx")
    with pytest.raises(ValueError, match="not both"):
        vector_index_stream_writer(
            stream, "/tmp/nope-idx", app_id="x", fresh_app_id=True
        )
    # explicit forms construct fine (no query started)
    assert vector_index_stream_writer(stream, "/tmp/nope-idx", app_id="x")
    assert vector_index_stream_writer(
        stream, "/tmp/nope-idx", fresh_app_id=True
    )


# ---------------------------------------------------------------------------
# S46 (r16): versioned-table STREAMING SOURCE — readStream over commits
# ---------------------------------------------------------------------------


def _drain_versioned_stream(spark, t, ckpt, opts=None):
    """One availableNow pass of readStream.format('versioned_table');
    returns the collected rows (set of tuples)."""
    got = []

    def sink(df, batch_id):
        got.extend(tuple(r) for r in df.collect())

    reader = spark.readStream.format("versioned_table")
    for k, v in (opts or {}).items():
        reader = reader.option(k, v)
    q = (
        reader.load(t)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return set(got)


@pytest.mark.usefixtures("versioned_table")
def test_versioned_stream_source_tails_appends(spark, tmp_path):
    """The S46 headline: a readStream over a versioned table emits the
    starting snapshot plus each append's OWN rows exactly once, and a
    restart from the same checkpoint picks up only versions committed
    since — the Delta streaming-source contract on this protocol."""
    from utility_service_areas_spark.sources.versioned import write_version

    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")  # noqa: E731
    write_version(mk([(1, "a"), (2, "b")]), t)
    write_version(mk([(3, "c")]), t)

    got = _drain_versioned_stream(spark, t, ckpt)
    assert got == {(1, "a"), (2, "b"), (3, "c")}

    # new appends after the drain: a restart emits ONLY them
    write_version(mk([(4, "d")]), t)
    write_version(mk([(5, "e")]), t)
    got2 = _drain_versioned_stream(spark, t, ckpt)
    assert got2 == {(4, "d"), (5, "e")}

    # nothing new -> empty drain, not a replay
    assert _drain_versioned_stream(spark, t, ckpt) == set()


@pytest.mark.usefixtures("versioned_table")
def test_versioned_stream_source_rejects_rewrites_unless_opted_in(
    spark, tmp_path
):
    """A non-append version mid-stream raises by default (a rewrite is
    not new rows); ignore_changes emits its new files with the
    documented reappearing-rows caveat."""
    from utility_service_areas_spark.sources.versioned import write_version

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")  # noqa: E731
    write_version(mk([(1, "a")]), t)
    write_version(mk([(2, "b")]), t)
    write_version(mk([(9, "z"), (1, "a2")]), t, mode="overwrite")

    import pytest

    with pytest.raises(Exception, match="ignore_changes"):
        _drain_versioned_stream(spark, t, str(tmp_path / "c1"))

    got = _drain_versioned_stream(
        spark, t, str(tmp_path / "c2"), opts={"ignore_changes": "true"}
    )
    # v0 snapshot + v1 append + v2's rewritten files (reappearance)
    assert got == {(1, "a"), (2, "b"), (9, "z"), (1, "a2")}


@pytest.mark.usefixtures("versioned_table")
def test_versioned_stream_source_starting_version(spark, tmp_path):
    """starting_version=n begins with version n's FULL snapshot (an
    append manifest references all prior dirs), skipping older
    history; an uncommitted starting version is loud."""
    from utility_service_areas_spark.sources.versioned import write_version

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")  # noqa: E731
    write_version(mk([(1, "a")]), t)
    write_version(mk([(2, "b")]), t)
    write_version(mk([(3, "c")]), t)

    got = _drain_versioned_stream(
        spark, t, str(tmp_path / "c1"), opts={"starting_version": "1"}
    )
    assert got == {(1, "a"), (2, "b"), (3, "c")}  # v1 snapshot + v2

    import pytest

    with pytest.raises(Exception, match="not a committed version"):
        _drain_versioned_stream(
            spark, t, str(tmp_path / "c2"), opts={"starting_version": "99"}
        )


@pytest.mark.usefixtures("versioned_table")
def test_versioned_stream_starting_version_survives_vacuumed_history(
    spark, tmp_path
):
    """starting_version=n must not read manifests OLDER than n (the
    first batch is a full snapshot, so pre-n history may already be
    vacuumed)."""
    from tests.conftest import backdate_tree
    from utility_service_areas_spark.sources.versioned import (
        vacuum,
        write_version,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")  # noqa: E731
    write_version(mk([(1, "a")]), t)
    write_version(mk([(2, "b")]), t)
    write_version(mk([(3, "c")]), t)
    backdate_tree(t)
    vacuum(t, keep_last=2, tmp_grace_seconds=0)  # v0's manifest is gone

    got = _drain_versioned_stream(
        spark, t, str(tmp_path / "c1"), opts={"starting_version": "1"}
    )
    assert got == {(1, "a"), (2, "b"), (3, "c")}


# ---------------------------------------------------------------------------
# #268 (r17): S46->S39 streamed medallion composition (VERDICT r16 #3)
# ---------------------------------------------------------------------------


@pytest.mark.usefixtures("versioned_table")
def test_medallion_stream_pipeline_composition(spark, tmp_path):
    """The streamed bronze->silver pipeline end-state equals the batch
    transform of bronze (stream==batch, the standing discipline); the
    second drain is a genuine checkpoint restart (silver accrues >=2
    txn-stamped versions); a RESTORE of bronze to a consumed version
    drains to NOTHING under ignore_changes; and a re-drain with no new
    bronze commits adds no silver version (exactly-once, not
    at-least-once)."""
    from pyspark.sql import functions as F

    from utility_service_areas_spark.sources.versioned import (
        list_versions,
        read_version,
        restore_version,
        write_version,
    )
    from utility_service_areas_spark.streaming.events import (
        versioned_table_stream_writer,
    )

    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    rows = [(i, float(1000 + 7 * i), f"P{i % 3}") for i in range(300)]
    mk = spark.createDataFrame(
        rows, "o_orderkey long, o_totalprice double, o_orderpriority string"
    )

    def transform(df):
        return df.filter(F.col("o_totalprice") > 1500).select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )

    def drain(ignore_changes=False):
        reader = spark.readStream.format("versioned_table")
        if ignore_changes:
            reader = reader.option("ignore_changes", "true")
        q = (
            versioned_table_stream_writer(transform(reader.load(bronze)), silver)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_version(mk.filter("o_orderkey % 3 = 0"), bronze)
    write_version(mk.filter("o_orderkey % 3 = 1"), bronze)
    drain()
    v_after_first = list_versions(silver)[-1]

    write_version(mk.filter("o_orderkey % 3 = 2"), bronze)
    drain()  # checkpoint RESTART: picks up only bronze v2
    assert list_versions(silver)[-1] > v_after_first  # a new silver commit

    # stream==batch: silver row set == batch transform of bronze
    got = {
        tuple(r) for r in read_version(spark, silver).collect()
    }
    want = {
        tuple(r) for r in transform(read_version(spark, bronze)).collect()
    }
    assert got == want and got  # non-empty and identical

    # every silver version is txn-stamped by the S39 sink
    from utility_service_areas_spark.sources import versioned as vt

    for v in list_versions(silver):
        man = vt._read_manifest(silver, v)
        assert man.get("txn_id", "").startswith("stream-")

    # RESTORE bronze to consumed v1: pure re-reference — drain emits
    # nothing new (needs ignore_changes since mode != append)
    restore_version(bronze, 1)
    n_silver = len(list_versions(silver))
    drain(ignore_changes=True)
    assert {
        tuple(r) for r in read_version(spark, silver).collect()
    } == want  # unchanged content

    # no new bronze commits -> re-drain adds NO silver version
    before = len(list_versions(silver))
    drain(ignore_changes=True)
    assert len(list_versions(silver)) == before


def test_medallion_registry_query_matches_relational_replay(spark):
    """#268's registry surface equals the pure relational replay of its
    bronze->silver pipeline computed directly from orders."""
    from tests.conftest import SMOKE_SF
    from utility_service_areas_spark.plans.etl_queries import (
        medallion_stream_pipeline,
    )
    from utility_service_areas_spark.sources.tables import load_table

    got = {
        tuple(r) for r in medallion_stream_pipeline(spark, SMOKE_SF).collect()
    }
    from pyspark.sql import functions as F

    orders = load_table(spark, SMOKE_SF, "orders")
    want = {
        tuple(r)
        for r in orders.filter(F.col("o_totalprice") > 150000)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
        .collect()
    }
    assert got == want and got
