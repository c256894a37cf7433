"""Structured Streaming operators (SURVEY.md §2.6).

- ``tumbling_counts``: windowed aggregation with a watermark;
- ``sessionize_stateful``: stateful sessionization via
  applyInPandasWithState;
- ``tdigest_stream``: t-digest quantiles held in keyed state;
- ``versioned_table_stream_writer``: the exactly-once sink into the
  versioned table;
- the S40 online logistic-regression state (``logreg_online_*``).

The three stream transforms have batch twins in plans/event_queries.py
and plans/analytics_queries.py whose DuckDB oracles are the
correctness spec; tests run the stream with trigger(availableNow=True)
and assert stream == batch. tools/stress.py times them at scale.

Scale: watermarks bound state; session state is per-user (keyed state
scales horizontally with the shuffle on user_id); the transforms are
source-agnostic.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from utility_service_areas_spark.operators.localrel import local_df

SESSION_GAP_MIN = 30


def tumbling_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Per-hour per-type counts/sums with late-data watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # per-row cents summed as integers — order-independent,
            # matching the batch twin exactly (events_tumbling_agg)
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
        .select(
            F.col("w.start").alias("hour"),
            "event_type",
            "n_events",
            "sum_value_cents",
        )
    )


_SESS_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("session_id", LongType()),
        StructField("n_events", LongType()),
    ]
)
_SESS_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_id", LongType()),
        StructField("n_events", LongType()),
    ]
)


def _sessionize_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful sessionizer: assigns 1-based per-user session
    ids on a 30-min gap, carrying (last_ts, session_id, count) state
    across micro-batches."""
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    last_ts, sess_id, n_ev = state.get if state.exists else (None, 0, 0)
    out_rows = []
    for pdf in pdfs:
        pdf = pdf.sort_values("ts")
        for ts in pdf["ts"]:
            ts_us = int(pd.Timestamp(ts).value // 1000)
            if last_ts is None or ts_us - last_ts > gap_us:
                if sess_id > 0:
                    out_rows.append((key[0], sess_id, n_ev))
                sess_id += 1
                n_ev = 0
            n_ev += 1
            last_ts = ts_us
    state.update((last_ts, sess_id, n_ev))
    # Emit the in-progress session too (idempotent downstream upsert).
    rows = out_rows + ([(key[0], sess_id, n_ev)] if sess_id > 0 else [])
    yield pd.DataFrame(rows, columns=["user_id", "session_id", "n_events"])


def sessionize_stateful(stream: DataFrame) -> DataFrame:
    """Sessionization as a custom stateful operator
    (applyInPandasWithState) — the escape hatch for session semantics
    session_window can't express (e.g. emitting partial sessions)."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=_SESS_OUT_SCHEMA,
            stateStructType=_SESS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_TDIGEST_STATE_SCHEMA = StructType(
    [
        StructField("means", ArrayType(DoubleType())),
        StructField("weights", ArrayType(DoubleType())),
    ]
)

_TDIGEST_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("q", DoubleType()),
        StructField("estimate", DoubleType()),
    ]
)

_TDIGEST_QS = (0.25, 0.5, 0.75, 0.95)


def _tdigest_fn(key, pdfs, state):
    """Streaming t-digest per event_type: the keyed state IS the digest
    (≤ δ centroids, constant size) — new values merge in per batch,
    current quantile estimates emit every trigger (update semantics:
    downstream upserts by (event_type, q))."""
    import numpy as np

    from utility_service_areas_spark.operators.sketch import (
        digest_quantile,
        merge_digest,
    )

    if state.exists:
        m_list, w_list = state.get
        means = np.asarray(m_list, dtype=np.float64)
        weights = np.asarray(w_list, dtype=np.float64)
    else:
        means = np.array([], dtype=np.float64)
        weights = np.array([], dtype=np.float64)
    for pdf in pdfs:
        v = pdf["value"].dropna().to_numpy(dtype=np.float64)
        if len(v):
            means = np.concatenate([means, v])
            weights = np.concatenate([weights, np.ones_like(v)])
            means, weights = merge_digest(means, weights)
    state.update((means.tolist(), weights.tolist()))
    yield pd.DataFrame(
        [(key[0], q, digest_quantile(means, weights, q)) for q in _TDIGEST_QS],
        columns=["event_type", "q", "estimate"],
    )


def tdigest_stream(stream: DataFrame) -> DataFrame:
    """Streaming quantile estimates (t-digest keyed state) — the
    streaming twin of plans/analytics_queries.tdigest_value_quantiles.
    State per key is O(δ) forever, regardless of stream length."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy("event_type")
        .applyInPandasWithState(
            _tdigest_fn,
            outputStructType=_TDIGEST_OUT_SCHEMA,
            stateStructType=_TDIGEST_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def versioned_table_stream_writer(stream: DataFrame, table_dir: str):
    """S39 — EXACTLY-ONCE streaming sink into the versioned table:
    each micro-batch commits as one append version with
    txn_id='stream-{batch_id}', so a RETRIED micro-batch (failure
    between sink commit and checkpoint advance — the classic
    foreachBatch double-write window) finds its txn already committed
    and becomes a no-op instead of a duplicate version. This is
    Delta's txnAppId/txnVersion idempotent-writes contract composed
    from the repo's own manifest-claim commit; the dedup horizon is
    the retained manifest history (vacuum caveat documented at
    txn_version). Returns a DataStreamWriter — caller adds options/
    trigger and .start()."""
    from utility_service_areas_spark.sources.versioned import (
        list_versions,
        write_version,
    )

    def commit_batch(df: DataFrame, batch_id: int) -> None:
        mode = "append" if list_versions(table_dir) else "overwrite"
        write_version(df, table_dir, mode=mode, txn_id=f"stream-{batch_id}")

    return stream.writeStream.foreachBatch(commit_batch)


# ---------------------------------------------------------------------------
# S40 (r14): STREAMING ONLINE UPDATES for the #259 quality classifier —
# continual learning at the serving edge. Batch-train with
# docs_quality_logreg_train, deploy its weights + feature means into a
# state file, then let each document micro-batch take one
# integer-quantized gradient step (features centered by the FROZEN
# training-time means — the standard deployment posture; re-centering
# per batch would make the model chase its own normalization).
# Everything stays in the #259 bit-replayable integer discipline, so
# the state after a sequence of batches is EXACTLY reproducible by an
# offline fold over the same splits (pinned against a plain-Python
# integer replay in tests/test_streaming.py — cross-implementation,
# not just cross-run). Exactly-once across micro-batch retries via the
# recorded last_batch_id (the S39 txn posture applied to model state).
# ---------------------------------------------------------------------------

LOGREG_STATE_VERSION = 1
_LOGREG_HISTORY_CAP = 100


def init_logreg_online_state(
    state_path: str,
    mu: tuple[int, int, int],
    w: tuple[int, int, int, int] = (0, 0, 0, 0),
    lr_den: int = 500,
) -> dict:
    """Create the online-updater state file: frozen feature means from
    the batch trainer, starting weights (typically #259's trained
    weights — fine-tuning — or zeros), and the step denominator.
    Atomic write; returns the state."""
    state = {
        "format_version": LOGREG_STATE_VERSION,
        "mu": [int(m) for m in mu],
        "w": [int(x) for x in w],
        "lr_den": int(lr_den),
        "last_batch_id": -1,
        "n_batches": 0,
        "n_docs_seen": 0,
        "history": [],
    }
    _write_logreg_state(state_path, state)
    return state


def load_logreg_online_state(state_path: str) -> dict:
    import json

    with open(state_path) as f:
        state = json.load(f)
    if state.get("format_version") != LOGREG_STATE_VERSION:
        raise ValueError(
            f"logreg state format {state.get('format_version')} != "
            f"{LOGREG_STATE_VERSION}"
        )
    return state


def _write_logreg_state(state_path: str, state: dict) -> None:
    import json
    import os
    import uuid

    tmp = f"{state_path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, state_path)  # readers see old or new, never torn


def logreg_online_step(df: DataFrame, state: dict) -> dict | None:
    """One integer gradient step of the #259 discipline over a batch
    frame, against ``state``'s weights and FROZEN means. Returns the
    updated state, or None for an empty batch. Pure function of
    (batch rows, state) — partitioning-independent because every
    aggregate is an exact integer sum."""
    from pyspark.sql import functions as F

    from utility_service_areas_spark.plans.pipeline_queries import (
        _logreg_features,
    )

    m1, m2, m3 = state["mu"]
    fc = _logreg_features(df).select(
        F.lit(1).cast("long").alias("x0"),
        (F.col("r1") - F.lit(m1)).cast("long").alias("x1"),
        (F.col("r2") - F.lit(m2)).cast("long").alias("x2"),
        (F.col("r3") - F.lit(m3)).cast("long").alias("x3"),
        "y",
    )
    # z/p built from the weight LITERALS (r14 review #6: splicing
    # values into the shared _LOGREG_P string via str.replace was
    # textual surgery that a rename in pipeline_queries could silently
    # corrupt); the hard-sigmoid constants are the #259 discipline and
    # the cross-implementation Python-fold pin keeps them honest.
    z = " + ".join(f"x{j} * ({int(wj)}L)" for j, wj in enumerate(state["w"]))
    p_expr = f"least(1000000L, greatest(0L, 500000L + ({z}) div 4))"
    row = (
        fc.select(
            F.expr(p_expr).alias("p"),
            "y",
            "x0",
            "x1",
            "x2",
            "x3",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            *[
                F.sum(F.expr(f"(p - y) * x{j}")).cast("long").alias(f"g{j}")
                for j in range(4)
            ],
        )
        .collect()[0]
    )
    if not row.n:
        return None
    den = row.n * state["lr_den"]
    g = [row.g0, row.g1, row.g2, row.g3]

    def tdiv(a: int, b: int) -> int:  # Spark `div`: truncate toward zero
        q = abs(a) // b
        return q if a >= 0 else -q

    new_w = [wi - tdiv(gi, den) for wi, gi in zip(state["w"], g)]
    step_l1 = sum(abs(nw - ow) for nw, ow in zip(new_w, state["w"]))
    state = dict(state)
    state["w"] = new_w
    state["n_batches"] += 1
    state["n_docs_seen"] += int(row.n)
    state["history"] = (
        state["history"] + [{"n": int(row.n), "step_l1": int(step_l1)}]
    )[-_LOGREG_HISTORY_CAP:]
    return state


def logreg_online_apply_batch(
    df: DataFrame, batch_id: int, state_path: str
) -> dict:
    """The per-micro-batch fold (module-level so the retry guard is
    directly testable): load state, skip if this batch_id already
    stepped (exactly-once across sink-side replays), else one gradient
    step + atomic state write. Returns the (possibly unchanged)
    state."""
    state = load_logreg_online_state(state_path)
    if batch_id <= state["last_batch_id"]:
        return state  # replayed micro-batch: the step already happened
    updated = logreg_online_step(df, state)
    if updated is None:
        updated = dict(state)  # empty batch still advances the id
    updated["last_batch_id"] = batch_id
    _write_logreg_state(state_path, updated)
    return updated


def logreg_online_pr_sweep(docs: DataFrame, state_path: str) -> DataFrame:
    """#260's precision/recall threshold sweep re-run against the
    CURRENT online state (VERDICT r15 task #6 — closing the S40 loop:
    online steps keep the weights fresh, but the deployed threshold
    was picked at batch-training time; after enough drift the
    purity-target operating point moves, and this readout is how a
    curation run re-picks it without retraining).

    Features are centered by the state's FROZEN means (the S40
    contract — batch/stream feature parity by construction) and scored
    by the state's current integer weights; the sweep tail is #260's
    exactly (same thresholds, same exact-integer confusion counts and
    divisions), so sweep(state after 0 online steps) equals the batch
    #260 table verbatim — pytest-pinned. Scale: same shape as #260 —
    one tokenize collapse to an n×2 (z, y) frame, a 9-row broadcast
    crossJoin, one partial-agg groupBy."""
    from utility_service_areas_spark.plans.pipeline_queries import (
        _LOGREG_THRESHOLDS,
        _logreg_features,
        _pr_sweep,
    )

    state = load_logreg_online_state(state_path)
    m1, m2, m3 = state["mu"]
    w0, w1, w2, w3 = (int(x) for x in state["w"])
    fc = _logreg_features(docs).select(
        F.lit(1).cast("long").alias("x0"),
        (F.col("r1") - F.lit(int(m1))).cast("long").alias("x1"),
        (F.col("r2") - F.lit(int(m2))).cast("long").alias("x2"),
        (F.col("r3") - F.lit(int(m3))).cast("long").alias("x3"),
        "y",
    )
    sc = fc.select(
        F.expr(
            f"x0 * ({w0}L) + x1 * ({w1}L) + x2 * ({w2}L) + x3 * ({w3}L)"
        ).alias("z"),
        "y",
    )
    spark = docs.sparkSession
    th = local_df(spark, 
        [(t,) for t in _LOGREG_THRESHOLDS], "threshold long"
    )
    return _pr_sweep(sc, th)
