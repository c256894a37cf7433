"""Versioned table sink: snapshot commit + time travel (S33).

VERDICT r12 task #6 — the lakehouse capability a 100 TB pipeline
assumes (the Delta/Iceberg posture, re-expressed with the repo's own
ingredients: S31's manifest-commit protocol, #161's snapshot-diff
read, #233's CDC-apply semantics downstream). Pure stdlib + parquet —
no table-format library exists in this environment, and the point is
the COMMIT PROTOCOL, not the file format.

Layout under ``table_dir``::

    data/commit-<token>/   parquet written by exactly one commit
    _v{N}.json             manifest: ordered data dirs + schema + counts

A version's manifest lists every data directory composing it, so an
APPEND version reuses the previous version's directories by reference
(no rewrite — O(delta) commit cost), and an OVERWRITE version lists
only its own. Old data dirs are never mutated or deleted, which is
what makes every historical version readable forever (time travel)
until an explicit vacuum.

Commit protocol (crash-safe, first-writer-wins). Every writer —
``write_version``, ``write_version_bucketed``, ``restore_version`` and
both merge paths — claims its version through one helper,
``_claim_version``:

1. write the commit's parquet under ``data/commit-<token>/``
   (invisible — no manifest references it yet);
2. ``_claim_version`` writes the manifest body to
   ``_tmp-v{N}-<token>.json``, CLAIMS the version with
   ``os.link(tmp, _v{N}.json)`` — hard-link creation is atomic and
   FAILS if the name exists, so exactly one writer wins a version
   number — and unlinks the temp. A temp a vacuum swept mid-claim is
   rewritten and linked again;
3. a writer that lost version N reacts in its own way: an append,
   overwrite, bucketed write or restore recomputes against the winner
   and retries at N+1 (the optimistic-concurrency loop every table
   format runs); a merge rebases onto a winner that touched other
   buckets and aborts loudly otherwise (``merge_version``).

Every retry — at N+1, by rebase, or of a swept temp — is bounded by
the one budget ``CLAIM_ATTEMPTS``.

A crash before the claim in step 2 leaves orphan data/temp files
that no manifest references — readers never see them (pinned), and
the next commit is unaffected. A torn manifest is impossible: readers only open
``_v{N}.json`` names, which come into existence atomically complete.

Schema contract: append validates the incoming frame's schema against
the latest manifest (same column names + types, any order) — silent
drift is an error, the Delta posture. Overwrite may change schema
(it starts a new lineage of data dirs; old versions keep theirs).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from utility_service_areas_spark.operators.localrel import local_df


# Retry budget of every version claim: how often a writer recomputes
# against (or a merge rebases onto) a newer winner, and how often one
# claim rewrites a temp that a vacuum swept.
CLAIM_ATTEMPTS = 20


def _manifest_name(n: int) -> str:
    return f"_v{n}.json"


def list_versions(table_dir: str) -> list[int]:
    """Committed version numbers, ascending. Temps (_tmp-*) and data
    dirs are never versions."""
    try:
        names = os.listdir(table_dir)
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        if n.startswith("_v") and n.endswith(".json"):
            try:
                out.append(int(n[2:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(table_dir: str, version: int) -> dict:
    path = os.path.join(table_dir, _manifest_name(version))
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"no committed version {version} at {table_dir} "
            f"(have {list_versions(table_dir)})"
        )
    with open(path) as f:
        return json.load(f)


def _resolve_version(
    table_dir: str, version: int | None = None
) -> tuple[int, dict]:
    """(version, manifest) of ``version``, or of the latest committed
    version when None. Raises FileNotFoundError on an empty table."""
    versions = list_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no committed versions at {table_dir}")
    v = versions[-1] if version is None else version
    return v, _read_manifest(table_dir, v)


def _claim_version(table_dir: str, n: int, manifest: dict, token: str) -> bool:
    """Claim version ``n`` for ``manifest``: write it to a temp,
    hard-link the temp to ``_v{n}.json`` and unlink the temp. Hard-link
    creation is atomic and fails iff the name exists, so exactly one
    writer wins each version; returns whether this call did. A temp
    swept out from under the claim (a vacuum running outside its grace
    window — ADVICE r13 #3) is rewritten and the link retried, up to
    ``CLAIM_ATTEMPTS`` times, instead of dying mid-commit."""
    tmp = os.path.join(table_dir, f"_tmp-v{n}-{token}.json")
    final = os.path.join(table_dir, _manifest_name(n))
    for _attempt in range(CLAIM_ATTEMPTS):
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, final)
        except FileExistsError:
            os.unlink(tmp)
            return False
        except FileNotFoundError:
            continue
        os.unlink(tmp)
        return True
    raise RuntimeError(
        f"could not claim version {n} at {table_dir}: the commit temp "
        "kept disappearing (a vacuum with no grace window?)"
    )


def _schema_key(df: DataFrame) -> list[list[str]]:
    """Order-insensitive (name, type) signature."""
    return sorted([f.name, f.dataType.simpleString()] for f in df.schema.fields)


def txn_version(table_dir: str, txn_id: str) -> int | None:
    """The version a transaction id already committed, or None. Scans
    committed manifests newest-first driver-side (cheap JSON). The
    dedup horizon is the RETAINED history: vacuum removes old
    manifests, so a txn older than the retention window could commit
    twice — the Delta txn-identifier caveat, inherited deliberately."""
    for v in reversed(list_versions(table_dir)):
        if _read_manifest(table_dir, v).get("txn_id") == txn_id:
            return v
    return None


def exact_stat_bounds(st) -> tuple:
    """(min, max) of a parquet Statistics object, each bound kept only
    when the footer marks it EXACT. Parquet writers may truncate long
    (string) min/max; a truncated max is a PREFIX of the real max —
    NOT a valid upper bound — so an inexact bound must never feed a
    zone test (VERDICT r16 task #7). pyarrow builds without the
    is_*_value_exact accessors (< 17) never truncate-and-mark, so the
    getattr default keeps their bounds."""
    if st is None or not st.has_min_max:
        return None, None
    mn = st.min if getattr(st, "is_min_value_exact", True) else None
    mx = st.max if getattr(st, "is_max_value_exact", True) else None
    return mn, mx


def _collect_file_stats(
    table_dir: str, rel_dir: str, columns: list[str]
) -> dict:
    """Per-file (rows, per-column [min, max]) for the parquet under
    ``rel_dir``, read once from the footers at WRITE time — the Delta
    posture: stats live in the commit log, so read-time planning never
    opens a footer. Values must survive JSON round-tripping exactly:
    ints and strings are kept; floats/dates/timestamps are omitted
    (the reader then simply cannot prune on them — an omission is
    always safe, never wrong)."""
    import pyarrow.parquet as pq

    out = {}
    d = os.path.join(table_dir, rel_dir)
    for name in sorted(os.listdir(d)):
        if not name.endswith(".parquet"):
            continue
        pf = pq.ParquetFile(os.path.join(d, name))
        names = pf.schema_arrow.names
        rows = 0
        cols: dict[str, list] = {}
        for c in columns:
            if c in names:
                cols[c] = [None, None]
        for rg in range(pf.num_row_groups):
            meta = pf.metadata.row_group(rg)
            rows += meta.num_rows
            for c in list(cols):
                st = meta.column(names.index(c)).statistics
                if st is None or not st.has_min_max:
                    # An all-null (or empty) row group contributes no
                    # values — its missing min/max is harmless. Any
                    # OTHER stat-less group holds values the zone
                    # would not bound (writers do omit stats, e.g.
                    # for long strings): the column must not be
                    # recorded at all, or the planner could prune a
                    # file that holds matching rows (ADVICE r16 #1).
                    all_null = (
                        meta.num_rows == 0
                        or (
                            st is not None
                            and st.has_null_count
                            and st.null_count == meta.num_rows
                        )
                    )
                    if not all_null:
                        del cols[c]
                    continue
                mn, mx = exact_stat_bounds(st)
                if mn is None or mx is None:
                    # truncated (long-string) bounds: a prefix is not
                    # a valid upper bound — never record an inexact zone
                    del cols[c]
                    continue
                if not isinstance(mn, (int, str)) or isinstance(mn, bool):
                    del cols[c]  # not JSON-exact: never record, never prune
                    continue
                cur = cols[c]
                cur[0] = mn if cur[0] is None else min(cur[0], mn)
                cur[1] = mx if cur[1] is None else max(cur[1], mx)
        out[os.path.join(rel_dir, name)] = {"rows": rows, "cols": cols}
    return out


def write_version(
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    txn_id: str | None = None,
    extra_manifest: dict | None = None,
    expect_rows: int | None = None,
    stats_columns: list[str] | None = None,
) -> int:
    """Commit ``df`` as a new version; returns the version number.

    mode='append': the new version = previous version's data dirs +
    this commit's (schema-validated against the latest version).
    mode='overwrite': the new version = this commit's dir only (a new
    lineage; prior versions stay readable).

    ``txn_id`` makes the commit IDEMPOTENT (S39, the Delta
    txnAppId/txnVersion posture): if a committed manifest already
    carries this id, that version is returned and nothing is written —
    a Structured Streaming foreachBatch sink that passes the batch id
    as txn_id is exactly-once across micro-batch retries. The check
    runs again INSIDE the claim loop, so two racing writers with the
    same txn_id cannot both commit.

    ``expect_rows`` verifies the STAGED parquet's row count BEFORE the
    claim (ADVICE r15: a transform like optimize_version promises a
    row-preserving rewrite — a mismatch must raise while the suspect
    data is still an invisible orphan, never after it is the readable
    latest).

    ``stats_columns`` records per-file [min, max] zone maps for the
    named columns in the manifest (``file_stats``, read once from the
    staged footers — the Delta commit-log-stats posture): the
    versioned_table DataSource then plans its file skipping from the
    manifest alone, zero read-time footer I/O, with row-group pruning
    pushed to the executors. Appends carry the previous version's
    stats forward (data dirs are immutable)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if txn_id is not None:
        done = txn_version(table_dir, txn_id)
        if done is not None:
            return done
    os.makedirs(table_dir, exist_ok=True)
    token = uuid.uuid4().hex[:12]
    rel_dir = os.path.join("data", f"commit-{token}")
    df.write.mode("overwrite").parquet(os.path.join(table_dir, rel_dir))
    n_rows = df.sparkSession.read.parquet(
        os.path.join(table_dir, rel_dir)
    ).count()
    if expect_rows is not None and n_rows != expect_rows:
        # the staged dir is an unreferenced orphan (no manifest names
        # it) — invisible to every reader, reclaimed by vacuum
        raise RuntimeError(
            f"staged commit wrote {n_rows} rows, expected {expect_rows}; "
            "nothing was committed (the staged parquet is an invisible "
            "orphan)"
        )
    new_stats = (
        _collect_file_stats(table_dir, rel_dir, list(stats_columns))
        if stats_columns
        else {}
    )

    for _attempt in range(CLAIM_ATTEMPTS):
        versions = list_versions(table_dir)
        nxt = (versions[-1] + 1) if versions else 0
        schema_out = _schema_key(df)
        if mode == "append" and versions:
            prev = _read_manifest(table_dir, versions[-1])
            if prev["schema"] != schema_out:
                raise ValueError(
                    "append schema mismatch vs latest version: "
                    f"{prev['schema']} != {schema_out} — overwrite to "
                    "change schema"
                )
            dirs = list(prev["data_dirs"]) + [rel_dir]
            total = prev["n_rows"] + n_rows
        else:
            dirs = [rel_dir]
            total = n_rows
        manifest = {
            "version": nxt,
            "mode": mode,
            "data_dirs": dirs,
            "n_rows": total,
            "n_rows_commit": n_rows,
            "schema": schema_out,
        }
        file_stats = {}
        carried_cols: list[str] = []
        if mode == "append" and versions:
            # immutable dirs: carried stats stay valid verbatim
            file_stats.update(prev.get("file_stats", {}))
            carried_cols = list(prev.get("stats_columns", []))
        file_stats.update(new_stats)
        if file_stats:
            manifest["file_stats"] = file_stats
        stat_cols_out = sorted(set(carried_cols) | set(stats_columns or []))
        if stat_cols_out:
            # recorded so later merges/appends know which columns this
            # lineage keeps zone maps for
            manifest["stats_columns"] = stat_cols_out
        if extra_manifest:
            for k, v in extra_manifest.items():
                manifest.setdefault(k, v)  # never clobber core fields
        if txn_id is not None:
            # re-check inside the loop: a racing writer with the SAME
            # txn may have won the claim since our entry check
            done = txn_version(table_dir, txn_id)
            if done is not None:
                return done
            manifest["txn_id"] = txn_id
        if _claim_version(table_dir, nxt, manifest, token):
            return nxt
        # lost the race: recompute against the winner
    raise RuntimeError(
        f"could not claim a version after {CLAIM_ATTEMPTS} attempts "
        f"(extreme commit contention on {table_dir})"
    )


def _empty_frame_from_manifest(spark: SparkSession, man: dict) -> DataFrame:
    """A zero-row frame with the manifest's (name, type) signature —
    the same fallback VersionedTableDataSource.schema() uses for an
    all-deleted snapshot."""
    fields = ", ".join(f"{n} {t}" for n, t in man["schema"])
    return local_df(spark, [], fields)


def read_version(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
) -> DataFrame:
    """Time-travel read: the exact row set of ``version`` (default:
    latest). Reads only the manifest's data dirs — orphans from
    crashed commits are invisible by construction. A version whose
    data_dirs is empty (every row deleted by a merge) is a valid EMPTY
    snapshot: returns a zero-row frame reconstructed from the
    manifest's schema signature, mirroring the versioned_table
    DataSource (ADVICE r13 #2 — this used to raise from a zero-path
    parquet read). Project with ``.select``: Catalyst's parquet column
    pruning then reads only the selected columns."""
    _, man = _resolve_version(table_dir, version)
    return _read_snapshot(spark, table_dir, man)


def _read_snapshot(
    spark: SparkSession, table_dir: str, man: dict
) -> DataFrame:
    """Read one manifest's row set."""
    if not man["data_dirs"]:
        return _empty_frame_from_manifest(spark, man)
    return spark.read.parquet(*(os.path.join(table_dir, d) for d in man["data_dirs"]))


def restore_version(table_dir: str, version: int) -> int:
    """Delta ``RESTORE TABLE ... TO VERSION AS OF n`` (r16): commit a
    NEW version whose content is exactly ``version``'s — by REFERENCE
    (the new manifest lists the old version's data dirs; no byte is
    read or rewritten, an O(1) driver-side commit). History stays
    intact: the bad versions remain readable for forensics until
    vacuum, and the restore itself is one more auditable commit (the
    manifest records ``restored_from``), never a rollback-by-deletion.
    Works for every lineage shape — plain or bucketed (the
    bucket map is carried verbatim so later merges keep their COW
    scope) — and an empty snapshot restores to empty. Claim-loop
    commit like every writer; pure stdlib (no SparkSession needed)."""
    versions = list_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no committed versions at {table_dir}")
    src = _read_manifest(table_dir, version)  # raises if never committed
    if version == versions[-1]:
        return version  # restoring to latest is a no-op, not a new commit
    token = uuid.uuid4().hex[:12]
    for _attempt in range(CLAIM_ATTEMPTS):
        nxt = list_versions(table_dir)[-1] + 1
        manifest = {
            "version": nxt,
            "mode": "restore",
            "restored_from": version,
            "data_dirs": list(src["data_dirs"]),
            "n_rows": src["n_rows"],
            "n_rows_commit": 0,  # nothing written: pure re-reference
            "schema": src["schema"],
        }
        for key in ("bucket_cols", "n_buckets", "buckets", "bucket_rows",
                    "file_stats", "stats_columns"):
            # file_stats included (ADVICE r16 #3): the source version's
            # zone maps are still exact for its immutable dirs —
            # dropping them on restore would silently un-optimize every
            # later append's plan-time skipping.
            if key in src:
                manifest[key] = src[key]
        if _claim_version(table_dir, nxt, manifest, token):
            return nxt
        # lost the race: recompute against the winner
    raise RuntimeError(
        f"could not claim a version after {CLAIM_ATTEMPTS} attempts "
        f"(extreme commit contention on {table_dir})"
    )


def diff_versions(
    spark: SparkSession, table_dir: str, v_old: int, v_new: int
) -> dict[str, int]:
    """Row-multiset diff between two committed versions (the #161
    snapshot-diff read over time-travel frames): rows added, removed,
    and the net count change."""
    old = read_version(spark, table_dir, v_old)
    new = read_version(spark, table_dir, v_new)
    added = new.exceptAll(old).count()
    removed = old.exceptAll(new).count()
    return {
        "added": added,
        "removed": removed,
        "n_rows_old": old.count(),
        "n_rows_new": new.count(),
    }


# ---------------------------------------------------------------------------
# r13: bucketed layout + MERGE (bucket-level copy-on-write) + VACUUM (S35).
# The Delta/Iceberg MERGE posture at the granularity this format has:
# production table formats copy-on-write individual FILES; here the COW
# unit is a hash BUCKET of the key — merge rewrites only buckets that
# contain changed keys and reuses every other bucket's data dirs BY
# REFERENCE in the new manifest (O(touched-buckets) commit, pinned by
# asserting untouched dir paths are identical across versions).
# ---------------------------------------------------------------------------

BUCKET_PREFIX = "__bucket="


def _bucket_of(df: DataFrame, bucket_cols: list[str], n_buckets: int):
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(*bucket_cols), F.lit(n_buckets)).cast("int")


def write_version_bucketed(
    df: DataFrame,
    table_dir: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
) -> int:
    """Commit ``df`` as a new OVERWRITE-lineage version laid out in
    ``n_buckets`` hash buckets of ``bucket_cols`` — the layout
    ``merge_version`` requires. Each bucket's parquet lives in its own
    subdir (data/commit-<token>/__bucket=N), registered as a separate
    data dir so later merges can reference untouched buckets without
    rewriting a byte. Same manifest-claim commit protocol as
    ``write_version``.

    Every bucketed lineage records manifest zone maps on the BUCKET
    KEY (VERDICT r16 task #5) — zero-footer plan-time file skipping;
    the columns are recorded in the manifest so merges can re-collect
    stats for the buckets they rewrite."""
    os.makedirs(table_dir, exist_ok=True)
    token = uuid.uuid4().hex[:12]
    rel_base = os.path.join("data", f"commit-{token}")
    out = df.withColumn(
        "__bucket", _bucket_of(df, bucket_cols, n_buckets)
    )
    out.write.mode("overwrite").partitionBy("__bucket").parquet(
        os.path.join(table_dir, rel_base)
    )
    buckets: dict[str, list[str]] = {}
    n_rows = 0
    bucket_rows: dict[str, int] = {}
    file_stats: dict[str, dict] = {}
    spark = df.sparkSession
    for name in sorted(os.listdir(os.path.join(table_dir, rel_base))):
        if not name.startswith(BUCKET_PREFIX):
            continue
        b = name[len(BUCKET_PREFIX):]
        rel = os.path.join(rel_base, name)
        buckets[b] = [rel]
        c = spark.read.parquet(os.path.join(table_dir, rel)).count()
        bucket_rows[b] = c
        n_rows += c
        file_stats.update(_collect_file_stats(table_dir, rel, list(bucket_cols)))

    for _attempt in range(CLAIM_ATTEMPTS):
        versions = list_versions(table_dir)
        nxt = (versions[-1] + 1) if versions else 0
        manifest = {
            "version": nxt,
            "mode": "overwrite",
            "data_dirs": sorted(d for ds in buckets.values() for d in ds),
            "n_rows": n_rows,
            "n_rows_commit": n_rows,
            "schema": _schema_key(df),
            "bucket_cols": list(bucket_cols),
            "n_buckets": n_buckets,
            "buckets": buckets,
            "bucket_rows": bucket_rows,
        }
        if file_stats:
            manifest["file_stats"] = file_stats
            manifest["stats_columns"] = sorted(bucket_cols)
        if _claim_version(table_dir, nxt, manifest, token):
            return nxt
        # lost the race: recompute against the winner
    raise RuntimeError(
        f"could not claim a version after {CLAIM_ATTEMPTS} attempts "
        f"(extreme commit contention on {table_dir})"
    )


def merge_version(
    spark: SparkSession,
    table_dir: str,
    changes: DataFrame,
    op_col: str = "op",
) -> int:
    """MERGE a changeset into the latest version.

    ``changes`` = full-schema rows + an ``op`` column: 'U' upserts the
    row (insert-or-replace by the merge key), 'D' deletes its key.

    The table must be BUCKETED (write_version_bucketed); a plain
    lineage raises. The merge key is the bucket key and the commit is
    bucket-level copy-on-write: buckets containing no changed key are
    carried into the new manifest BY REFERENCE (their data dirs are not
    read, copied, or rewritten); only touched buckets are read, merged,
    and rewritten. Pinned row-identical to the relational reference in
    tests/test_versioned_sink.py.

    Concurrency (VERDICT r15 task #4 — the Delta rebase posture): the
    merge is computed against the latest version at read time; if
    another writer claims the next version number first, the loser
    re-reads the winner's manifest and — when the winner is the same
    bucketed lineage and touched a DISJOINT bucket set (every bucket
    this merge rewrote is byte-identical between its read-time base
    and the winner) — REBASES its bucket overlay onto the winner and
    retries, so both merges commit with the union of their effects
    and no lost update. Overlapping buckets or a lineage change keep
    the loud abort (retrying those against a
    stale base would silently lose the winner's update; the caller
    re-runs against the new latest). A crash before the claim leaves
    only invisible orphans, as everywhere else."""
    from pyspark.sql import functions as F

    base_v, man = _resolve_version(table_dir)
    if "buckets" not in man:
        raise ValueError(
            f"merge_version needs a bucketed table; {table_dir} is a plain "
            "lineage — rewrite it with write_version_bucketed first"
        )
    bucket_cols = list(man["bucket_cols"])

    # Delta's multiple-source-matches posture: a changeset with two
    # rows for one key is ambiguous (a same-key D+U pair would lose
    # the delete; two U rows would break key uniqueness) — refuse
    # loudly instead of committing either wrong answer (r13 review #3).
    dup = (
        changes.groupBy(*bucket_cols)
        .count()
        .filter("count > 1")
        .limit(5)
        .collect()
    )
    if dup:
        raise ValueError(
            "merge changeset has multiple rows for key(s) "
            f"{[tuple(r)[:-1] for r in dup]} — resolve to one row per key "
            "(e.g. cdc_latest_version_merge's winner rule) before merging"
        )

    # ADVICE r14 #1: an op value outside {'U','D'} (a typo'd 'u',
    # 'upsert', NULL...) would fall through both paths as a DELETE —
    # its key is anti-joined out of the base but the row is never
    # re-inserted, silently losing data. Refuse loudly instead.
    bad_ops = (
        changes.filter(
            ~F.col(op_col).isin("U", "D") | F.col(op_col).isNull()
        )
        .select(op_col, *bucket_cols)
        .limit(5)
        .collect()
    )
    if bad_ops:
        raise ValueError(
            f"merge changeset op column {op_col!r} must be 'U' or 'D'; "
            f"offending rows (op, key...): {[tuple(r) for r in bad_ops]}"
        )

    n_buckets = man["n_buckets"]
    ch = changes.withColumn(
        "__bucket", _bucket_of(changes, bucket_cols, n_buckets)
    )
    touched = sorted(
        r["__bucket"] for r in ch.select("__bucket").distinct().collect()
    )
    token = uuid.uuid4().hex[:12]
    rel_base = os.path.join("data", f"commit-{token}")

    # Our rewritten buckets only — the overlay is re-applied onto
    # whichever base finally wins the claim (see the rebase loop).
    ours_buckets: dict[str, list[str]] = {}
    ours_rows: dict[str, int] = {}
    if touched:
        base_dirs = [
            os.path.join(table_dir, d)
            for b in touched
            for d in man["buckets"].get(str(b), [])
        ]
        data_cols = [f for f in changes.columns if f != op_col]
        base_touched = (
            spark.read.parquet(*base_dirs)
            if base_dirs
            else changes.select(*data_cols).limit(0)
        )
        keys = ch.select(*bucket_cols).distinct()
        survivors = base_touched.join(keys, bucket_cols, "left_anti")
        upserts = ch.filter(F.col(op_col) == "U").select(*data_cols)
        merged = survivors.unionByName(upserts).withColumn(
            "__bucket", _bucket_of(survivors, bucket_cols, n_buckets)
        )
        merged.write.mode("overwrite").partitionBy("__bucket").parquet(
            os.path.join(table_dir, rel_base)
        )
        written = {
            name[len(BUCKET_PREFIX):]
            for name in os.listdir(os.path.join(table_dir, rel_base))
            if name.startswith(BUCKET_PREFIX)
        }
        for b in touched:
            bs = str(b)
            if bs in written:
                rel = os.path.join(rel_base, f"{BUCKET_PREFIX}{bs}")
                ours_buckets[bs] = [rel]
                ours_rows[bs] = (
                    spark.read.parquet(os.path.join(table_dir, rel)).count()
                )
            else:  # every row of the bucket was deleted
                ours_buckets[bs] = []
                ours_rows[bs] = 0

    # Re-collect zone maps for the buckets we rewrote on the lineage's
    # recorded stats columns (write-side default = the bucket key,
    # VERDICT r16 task #5); untouched buckets' stats are carried by
    # reference below, so a merge never erodes plan-time skipping.
    stats_cols = man.get("stats_columns")
    ours_stats: dict[str, dict] = {}
    if stats_cols:
        for rels in ours_buckets.values():
            for rel in rels:
                ours_stats.update(
                    _collect_file_stats(table_dir, rel, list(stats_cols))
                )

    # Claim-with-rebase loop (VERDICT r15 task #4 — the Delta
    # ConcurrentWriteException rebase): on a claim conflict, re-read
    # the winning latest manifest; if every bucket WE rewrote is
    # byte-identical between our read-time base and the winner (the
    # winner touched a DISJOINT bucket set on the same lineage), our
    # rewrite is still a valid copy-on-write of those buckets — rebase
    # the overlay onto the winner's manifest and retry. Overlapping
    # buckets, a changed lineage (overwrite/schema/bucket-layout
    # change), or a non-bucketed winner keep the loud abort: retrying
    # those against a stale base would silently lose the winner's
    # update.
    cur_v, cur_man = base_v, man
    for _rebase in range(CLAIM_ATTEMPTS):
        new_buckets = dict(cur_man["buckets"])
        new_bucket_rows = dict(cur_man.get("bucket_rows", {}))
        new_buckets.update(ours_buckets)
        new_bucket_rows.update(ours_rows)
        n_rows = sum(new_bucket_rows.values())
        manifest = {
            "version": cur_v + 1,
            "mode": "merge",
            "merge_base": cur_v,
            "data_dirs": sorted(d for ds in new_buckets.values() for d in ds),
            "n_rows": n_rows,
            "n_rows_commit": n_rows,
            "schema": man["schema"],
            "bucket_cols": bucket_cols,
            "n_buckets": n_buckets,
            "buckets": new_buckets,
            "bucket_rows": new_bucket_rows,
        }
        retained = set(manifest["data_dirs"])
        fs = {
            rel: st
            for rel, st in cur_man.get("file_stats", {}).items()
            if os.path.dirname(rel) in retained
        }
        fs.update(ours_stats)
        if fs:
            manifest["file_stats"] = fs
        if stats_cols:
            manifest["stats_columns"] = stats_cols
        if _rebase:
            manifest["rebased_from"] = base_v  # audit trail
        if _claim_version(table_dir, cur_v + 1, manifest, token):
            return cur_v + 1

        # lost the race — try to rebase onto the winner
        latest_v = list_versions(table_dir)[-1]
        if latest_v <= cur_v:
            # claim failed yet no newer manifest is listable — an
            # inconsistent view (races with an ungraced vacuum, a
            # broken filesystem): never rebase on guesswork
            raise RuntimeError(
                f"concurrent commit detected at {table_dir} (version "
                f"{cur_v + 1} claimed while merging against {base_v}) but "
                "no newer manifest is listable — re-run the merge against "
                "the new latest version"
            )
        latest = _read_manifest(table_dir, latest_v)
        compatible = (
            "buckets" in latest
            and latest.get("bucket_cols") == bucket_cols
            and latest.get("n_buckets") == n_buckets
            and latest["schema"] == man["schema"]
        )
        overlap = not compatible or any(
            latest["buckets"].get(str(b)) != man["buckets"].get(str(b))
            for b in touched
        )
        if overlap:
            raise RuntimeError(
                f"concurrent commit detected at {table_dir} (version "
                f"{cur_v + 1} claimed while merging against {base_v}) and "
                "the winning commit touched overlapping buckets or changed "
                "the lineage — re-run the merge against the new latest "
                "version"
            )
        cur_v, cur_man = latest_v, latest
    raise RuntimeError(
        f"merge at {table_dir} lost {CLAIM_ATTEMPTS} successive claim races "
        "while rebasing onto disjoint winners — extreme commit contention"
    )


def vacuum(
    table_dir: str,
    keep_last: int = 2,
    dry_run: bool = False,
    tmp_grace_seconds: float = 600.0,
) -> dict:
    """Expire history: keep the newest ``keep_last`` versions readable,
    delete every manifest older than that and every data dir no
    retained manifest references (including orphans from crashed
    commits). Deletion order is manifests FIRST, then dirs — a crash
    mid-vacuum can therefore only leave UNREFERENCED dirs behind
    (invisible; the next vacuum sweeps them), never a readable
    manifest with missing data.

    ``dry_run=True`` (VERDICT r13 task #6) computes and returns the
    full would-delete plan — manifests, temps, and dirs by name —
    without touching disk (the Delta ``VACUUM ... DRY RUN`` posture;
    run it before the real thing on a table you care about).

    Commit temps younger than ``tmp_grace_seconds`` are SKIPPED: a
    concurrent writer sits between json.dump(tmp) and os.link for
    milliseconds, so sweeping only old temps (plus ``_claim_version``'s
    swept-temp retry) closes the window where a vacuum could
    yank a live commit's temp (ADVICE r13 #3). The SAME grace applies
    to TRUE ORPHAN data dirs — dirs referenced by NO manifest at all —
    because an in-flight commit writes its parquet for seconds before
    claiming a manifest (r14 review #3: deleting that dir would let
    the writer commit a readable manifest with missing data). Dirs
    referenced only by EXPIRED manifests were durably committed and
    are reclaimed regardless of age."""
    import shutil
    import time

    if keep_last < 1:
        raise ValueError(
            f"vacuum(keep_last={keep_last}) would retain NOTHING and "
            "destroy the table; keep_last must be >= 1"
        )
    versions = list_versions(table_dir)
    retained = versions[-keep_last:]
    referenced: set[str] = set()  # by a RETAINED manifest -> keep
    expired_referenced: set[str] = set()  # only by expired -> reclaim
    for v in versions:
        man = _read_manifest(table_dir, v)
        target = referenced if v in retained else expired_referenced
        target.update(os.path.normpath(d) for d in man["data_dirs"])
    expired_referenced -= referenced

    # ---- plan (pure computation, no disk mutation) ----
    drop_manifests = [
        _manifest_name(v) for v in versions if v not in retained
    ]
    now = time.time()

    def _is_stale(path: str) -> bool:
        # ADVICE r14 #4: a data dir's top-level mtime goes stale the
        # moment its first child lands, so a single slow parquet write
        # could look "old" mid-flight. Age off the NEWEST entry in the
        # whole tree — the dir is only stale once every file in it is.
        from utility_service_areas_spark.sources.fsutil import newest_mtime

        latest = newest_mtime(path)
        if latest is None:
            return False  # its writer finished (or another vacuum won)
        return now - latest >= tmp_grace_seconds

    drop_tmps = [
        name
        for name in os.listdir(table_dir)  # temps from crashed claims
        if name.startswith("_tmp-") and _is_stale(os.path.join(table_dir, name))
    ]

    drop_dirs: list[str] = []  # rel paths; whole-commit dirs listed once
    empty_commit_dirs: list[str] = []  # bucketed dirs whose kept subs == 0
    data_root = os.path.join(table_dir, "data")

    def _reclaimable(rel: str) -> bool:
        """Expired-committed dirs go regardless of age; a dir no
        manifest ever referenced may be an in-flight commit — only
        reclaim it once stale."""
        return rel in expired_referenced or _is_stale(
            os.path.join(table_dir, rel)
        )

    if os.path.isdir(data_root):
        for commit in sorted(os.listdir(data_root)):
            commit_rel = os.path.normpath(os.path.join("data", commit))
            commit_abs = os.path.join(data_root, commit)
            if commit_rel in referenced:
                continue
            subs = (
                sorted(os.listdir(commit_abs))
                if os.path.isdir(commit_abs)
                else []
            )
            bucket_subs = [s for s in subs if s.startswith(BUCKET_PREFIX)]
            if not bucket_subs:
                if _reclaimable(commit_rel):
                    drop_dirs.append(commit_rel)
                continue
            kept_any = False
            dropped_all = True
            for s in bucket_subs:
                sub_rel = os.path.normpath(os.path.join("data", commit, s))
                if sub_rel in referenced:
                    kept_any = True
                    dropped_all = False
                elif _reclaimable(sub_rel):
                    drop_dirs.append(sub_rel)
                else:
                    dropped_all = False
            if not kept_any and dropped_all:
                empty_commit_dirs.append(commit_rel)

    plan = {
        "manifests_removed": len(drop_manifests),
        "tmps_removed": len(drop_tmps),
        "dirs_removed": len(drop_dirs),
        "versions_retained": len(retained),
        "manifests": sorted(drop_manifests),
        "tmps": sorted(drop_tmps),
        "dirs": sorted(drop_dirs),
        # parent husks removed after their last bucket goes — part of
        # the would-delete plan (r14 review #5: the plan must be the
        # FULL delete set, not an undercount)
        "empty_commit_husks": sorted(empty_commit_dirs),
        "dry_run": dry_run,
    }
    if dry_run:
        return plan

    # ---- act: manifests first, then temps, then dirs ----
    for name in drop_manifests:
        os.unlink(os.path.join(table_dir, name))
    for name in drop_tmps:
        try:
            os.unlink(os.path.join(table_dir, name))
        except FileNotFoundError:
            pass  # its writer committed/cleaned meanwhile
    for rel in drop_dirs:
        # ignore_errors: a concurrent vacuum may have removed a planned
        # dir between plan and act — the sweep must finish its list
        # rather than abort mid-way overstating what remains (ADVICE
        # r14 #5; matches the husk/tmp loops' posture).
        shutil.rmtree(os.path.join(table_dir, rel), ignore_errors=True)
    for rel in empty_commit_dirs:  # husks whose every bucket was dropped
        shutil.rmtree(os.path.join(table_dir, rel), ignore_errors=True)
    return plan


def optimize_version(
    spark: SparkSession,
    table_dir: str,
    zorder_by: list[str],
    bits: int = 8,
    n_files: int = 8,
    curve: str = "hilbert",
) -> int:
    """Clustered rewrite — Delta ``OPTIMIZE ... ZORDER BY`` (VERDICT
    r14 task #5): rewrite the LATEST version's rows ordered by the
    Morton interleave of the key columns (#116's bit-plane expression,
    plans/geo_queries.py:geo_morton_order, generalized to N numeric
    keys) and commit the layout as a NEW version whose row multiset is
    byte-identical (pinned via #161's diff semantics —
    diff_versions(base, optimized) == 0/0). Old versions stay
    readable; the rewrite is a new lineage exactly like any overwrite,
    so concurrent readers of the base version are untouched and vacuum
    reclaims the unclustered dirs once history expires.

    Why it pays at 100 TB: parquet keeps per-file/rowgroup min-max
    zone maps; Z-ordering makes every file's zone NARROW on each key,
    so a range predicate prunes most files instead of overlapping all
    of them (#213's zone-map audit measures exactly this — the pin
    shows strictly fewer files scanned for the same predicate after
    optimize). One number per (file, key) of driver state; the rewrite
    itself is one range-shuffle + per-partition sort, never a global
    single-reducer sort.

    Keys must be numeric (quantized to 2^bits buckets over their
    observed min-max — a 2-value aggregate per key, driver-bounded);
    NULL keys collapse to bucket 0. Bucketed tables are refused: their
    bucket layout IS their clustering contract.

    ``curve`` picks the space-filling order (VERDICT r15 task #5):
    'hilbert' (default — Skilling transpose via the numpy-vectorized
    kernel in functions/spacefill.py, the Databricks
    liquid-clustering choice) or 'morton' (bit interleave, a pure
    column expression). Measured on the r16 BENCH_TREND A/B (sf0.1
    orders, 150k rows, 16 files, middle-10% BETWEEN on each key of a
    two-key optimize): Hilbert scans 8/8 files vs Morton's 11/9 and
    75k/76k rows vs 104k/84k — its unit-step locality avoids the
    diagonal-jump zone widening, at a one-shot rewrite cost of 4.3 s
    vs 3.0 s (the Arrow-batched UDF hop). Single-key clustering is
    pure range order where both tie. Both curves commit through the
    same verified row-preserving path and are parity-pinned (#161
    diff 0/0) in tests."""
    from pyspark.sql import functions as F

    if not zorder_by:
        raise ValueError("zorder_by needs at least one column")
    base_v, man = _resolve_version(table_dir)
    if "buckets" in man:
        raise ValueError(
            "optimize_version applies to plain lineages; a bucketed "
            "table's bucket layout IS its clustering"
        )
    snap = _read_snapshot(spark, table_dir, man)
    for c in zorder_by:
        if c not in snap.columns:
            raise ValueError(f"zorder_by column {c!r} not in table schema")

    aggs = []
    for c in zorder_by:
        aggs += [
            F.min(F.col(c).cast("long")).alias(f"mn_{c}"),
            F.max(F.col(c).cast("long")).alias(f"mx_{c}"),
        ]
    stats = snap.agg(*aggs).collect()[0]  # 2 values per key — bounded

    ncols = len(zorder_by)
    qcols = []
    for c in zorder_by:
        mn = stats[f"mn_{c}"] or 0
        mx = stats[f"mx_{c}"] if stats[f"mx_{c}"] is not None else mn
        span = max(int(mx) - int(mn), 0) + 1
        q = F.floor(
            (F.coalesce(F.col(c).cast("long"), F.lit(int(mn))) - F.lit(int(mn)))
            * F.lit(1 << bits)
            / F.lit(span)
        ).cast("long")
        qcols.append(F.least(q, F.lit((1 << bits) - 1)))
    if curve == "morton":
        z = None
        for b in range(bits):
            for i, q in enumerate(qcols):
                term = F.shiftleft(
                    F.shiftright(q, b).bitwiseAND(F.lit(1)), b * ncols + i
                )
                z = term if z is None else z.bitwiseOR(term)
    elif curve == "hilbert":
        # per-bit state rotation can't stay a column expression without
        # exponential tree growth — Arrow-batched numpy kernel instead
        # (one shot per rewrite; see functions/spacefill.py)
        import pandas as pd

        _bits = bits

        def _hilbert(*cols):
            import numpy as np

            from utility_service_areas_spark.functions.spacefill import (
                hilbert_index,
            )

            arr = np.stack(
                [c.to_numpy(dtype=np.int64) for c in cols], axis=1
            )
            return pd.Series(hilbert_index(arr, _bits).astype(np.int64))

        # real annotation objects: this module's `from __future__ import
        # annotations` would stringify inline hints, which the pandas_udf
        # type-inference rejects for *args signatures
        _hilbert.__annotations__ = {"cols": pd.Series, "return": pd.Series}
        z = F.pandas_udf(_hilbert, "long")(*qcols)
    else:
        raise ValueError(f"curve must be morton|hilbert, got {curve!r}")

    laid = (
        snap.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    # expect_rows verifies the STAGED rewrite against the base
    # manifest BEFORE the claim (ADVICE r15): a mismatch raises while
    # the rewrite is still an invisible orphan — readers racing the
    # check can never see a suspect snapshot as latest.
    return write_version(
        laid,
        table_dir,
        mode="overwrite",
        extra_manifest={
            "optimized_from": base_v,
            "zorder_by": list(zorder_by),
            "zorder_bits": bits,
            "zorder_curve": curve,
        },
        expect_rows=man["n_rows"],
        # the clustered layout's whole point is zone pruning on these
        # keys — record their zones in the manifest so the DataSource
        # plans file skipping with zero read-time footer I/O
        stats_columns=list(zorder_by),
    )


def zone_map_audit(
    spark: SparkSession, table_dir: str, version: int, column: str
) -> list[dict]:
    """Per-parquet-file (min, max, rows) zone map of ``column`` for
    one committed version — the #213 data-skipping readout applied to
    the table's PHYSICAL layout. Driver-side pyarrow over footers
    only (statistics, no data pages); one dict per file."""
    import pyarrow.parquet as pq

    man = _read_manifest(table_dir, version)
    out = []
    for rel in man["data_dirs"]:
        d = os.path.join(table_dir, rel)
        for name in sorted(os.listdir(d)):
            if not name.endswith(".parquet"):
                continue
            pf = pq.ParquetFile(os.path.join(d, name))
            idx = pf.schema_arrow.names.index(column)
            mn = mx = None
            rows = 0
            for rg in range(pf.num_row_groups):
                st = pf.metadata.row_group(rg).column(idx).statistics
                rows += pf.metadata.row_group(rg).num_rows
                if st is None or not st.has_min_max:
                    continue
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            out.append(
                {"file": os.path.join(rel, name), "min": mn, "max": mx, "rows": rows}
            )
    return out
