"""Streaming == batch equivalence: each streaming transform drained
with availableNow must match its batch twin on the same events data,
modulo append-mode watermark semantics (windows still open at the end
of input are withheld — those must be the ONLY differences). Also the
versioned-table stream sink and source, the S40 online state and the
streamed medallion query.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF, read_events_stream, run_to_memory
from utility_service_areas_spark.plans.event_queries import (
    events_sessionize,
    events_tumbling_agg,
)
from utility_service_areas_spark.sources.tables import load_table
from utility_service_areas_spark.streaming.events import (
    sessionize_stateful,
    tdigest_stream,
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


def test_stream_tdigest_matches_exact_quantiles(spark):
    import numpy as np

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


def _three_file_docs(spark, tmp_path):
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


def test_logreg_online_batches_match_python_integer_fold(spark, tmp_path):
    """S40: batch-train #259, deploy its weights + frozen means into
    the online state, fold the corpus in as 3 micro-batches — the
    weight state is EXACTLY the plain-Python integer fold over the
    same splits (cross-IMPLEMENTATION replay of the bit-exact state
    discipline, the strongest pin available for a non-SQL op); a
    replayed micro-batch is a no-op (exactly-once across retries)."""
    from utility_service_areas_spark.functions.textops import STOPWORDS
    from utility_service_areas_spark.plans.pipeline_queries import (
        _LOGREG_Y_CHARS,
        docs_quality_logreg_train,
    )
    from utility_service_areas_spark.streaming.events import (
        init_logreg_online_state,
        load_logreg_online_state,
        logreg_online_apply_batch,
    )

    model = docs_quality_logreg_train(spark, SMOKE_SF).collect()[0]
    mu = (model.mu_ntok, model.mu_ndist, model.mu_nstop)
    w_init = (model.w_bias, model.w_ntok, model.w_ndist, model.w_nstop)
    sp = str(tmp_path / "logreg_state.json")
    init_logreg_online_state(sp, mu, w_init)

    d = _three_file_docs(spark, tmp_path)
    for i in range(3):
        logreg_online_apply_batch(
            spark.read.parquet(os.path.join(d, f"b{i}.parquet")), i, sp
        )
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
