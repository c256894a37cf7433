"""Bloom-filter-accelerated semi / anti joins.

The technique Spark's own runtime row-level filtering
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) applies inside
the engine, surfaced as an explicit operator so a pipeline can do
incremental-ingest membership tests ("which incoming keys are
already in the 100 TB reference corpus?") without shuffling the full
probe side against the reference.

How it stays exact: the bloom pass alone would admit false
positives, so it is only a PREFILTER —

- probe rows with any missed bit are *definitively absent* (bloom
  filters have no false negatives) and short-circuit past the join;
- the surviving candidates (true members + ~fpp false positives) go
  through an exact join for confirmation.

Net effect: the expensive exact join processes ``|members| +
fpp·|probe|`` rows instead of ``|probe|`` rows, while the result is
bit-for-bit the plain semi/anti join. Everything is JVM codegen —
``hash(key, seed)`` per bit position, ``posexplode`` over k
positions, one distinct on the build side's set bit positions.

Scale posture: the build side's set-bit table is at most ``m``
integers regardless of corpus size (m=2^20 ≈ 4 MB of ints →
broadcast). At 100 TB reference scale you raise ``m`` into the
billions; the bit table then exceeds broadcast range and the
position join flips to shuffle — still bounded by m, not by the
corpus. The reference's incremental-refresh semantics
(cached-certificate skip, R/functions.R:84-100) is this operator's
degenerate exact form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bit_positions(key: F.Column, m: int, k: int) -> F.Column:
    """k bloom bit positions for a key — JVM murmur3 with per-hash seed."""
    return F.array(*[F.pmod(F.hash(key, F.lit(i)), F.lit(m)) for i in range(k)])


def bloom_membership(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    m: int = 1 << 20,
    k: int = 5,
    probe_id: str | None = None,
) -> DataFrame:
    """Tag each probe row with ``__maybe_member`` (bloom verdict).

    ``__maybe_member = false`` is authoritative (key certainly not in
    build); ``true`` means "candidate — confirm exactly".

    ``probe_id`` names a unique probe column used to re-attach the
    per-row verdict. Pass one whenever you have one: the fallback
    (``monotonically_increasing_id`` + ``localCheckpoint``) must
    materialize the probe side to pin the generated ids, because the
    verdict is computed on one branch of a self-join and
    nondeterministic ids could otherwise diverge between branches
    under AQE re-planning.
    """
    bits = (
        build.select(
            F.explode(_bit_positions(F.col(build_key), m, k)).alias("__bit")
        )
        .distinct()
        .withColumn("__set", F.lit(True))
    )
    if probe_id is None:
        probed = probe.withColumn(
            "__rid", F.monotonically_increasing_id()
        ).localCheckpoint(eager=True)
        rid = "__rid"
    else:
        probed = probe
        rid = probe_id
    probed = probed.withColumn("__pos", _bit_positions(F.col(probe_key), m, k))
    hits = (
        probed.select(rid, F.explode("__pos").alias("__bit"))
        .join(F.broadcast(bits), "__bit", "left")
        .groupBy(rid)
        .agg(
            F.count(F.lit(1)).alias("__n_bits"),
            F.sum(F.when(F.col("__set"), 1).otherwise(0)).alias("__n_set"),
        )
        # Probe-side guard: a unique non-null rid contributes exactly k
        # exploded bit rows. More means the caller's probe_id is NOT
        # unique (or several nulls collapsed into the null group) — the
        # verdict rejoin would then silently misattribute rows, so fail
        # loudly instead.
        .withColumn(
            "__maybe_member",
            F.when(
                F.col("__n_bits") == F.lit(k),
                F.col("__n_bits") == F.col("__n_set"),
            ).otherwise(
                F.raise_error(
                    F.lit(
                        "bloom_membership: probe_id values must be unique "
                        "and non-null (duplicate id detected)"
                    )
                )
            ),
        )
        .select(F.col(rid).alias("__hrid"), "__maybe_member")
    )
    # Null-safe rejoin: a single null rid row still gets its verdict
    # (a plain equi-join would silently drop it).
    return (
        probed.join(hits, probed[rid].eqNullSafe(F.col("__hrid")))
        .drop("__pos", "__rid", "__hrid")
    )


def bloom_anti_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    m: int = 1 << 20,
    k: int = 5,
    probe_id: str | None = None,
) -> DataFrame:
    """Exact ``probe WHERE key NOT IN build`` via bloom prefilter.

    Rows the bloom rejects bypass the join entirely; only candidates
    pay the exact LEFT ANTI confirmation. Result == plain anti join.
    """
    tagged = bloom_membership(probe, build, probe_key, build_key, m, k, probe_id)
    definite_new = tagged.filter(~F.col("__maybe_member")).drop("__maybe_member")
    candidates = tagged.filter(F.col("__maybe_member")).drop("__maybe_member")
    build_keys = build.select(F.col(build_key).alias("__bk")).distinct()
    confirmed_new = candidates.join(
        build_keys, candidates[probe_key] == F.col("__bk"), "left_anti"
    )
    return definite_new.unionByName(confirmed_new)

