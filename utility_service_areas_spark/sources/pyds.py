"""Spark 4 Python DataSource for versioned tables: time travel and
table streaming through Spark's own read API.

    register_versioned_table(spark)
    spark.read.format("versioned_table").option("version", 2).load(dir)
    spark.readStream.format("versioned_table").load(dir)

The commit protocol lives in sources/versioned.py; this module exposes
every committed snapshot to plain SQL/DataFrame users (the Delta
`VERSION AS OF` surface): once the session has the source registered,
reads go through Spark's own API. The reader resolves the manifest
DRIVER-SIDE (cheap JSON) into one InputPartition per parquet part file,
and each partition yields pyarrow RecordBatches — the Spark 4 Arrow
fast path, no per-row Python.

The code that reads the source registers it, not session.build_session:
see register_versioned_table.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType


def _path_option(options: dict) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("versioned_table source requires a path: .load(dir)")
    # Absolutize ON THE DRIVER so executor tasks never depend on cwd.
    return os.path.abspath(path.removeprefix("file:"))


class VersionedTablePartition(InputPartition):
    def __init__(self, file_path: str, row_groups: list[int] | None = None):
        self.file_path = file_path
        # Surviving row-group indices under zone-map pruning (None →
        # read the whole file; computed driver-side from the same
        # footer that pruned at file level, so the executor re-parses
        # no stats).
        self.row_groups = row_groups


# Filter shapes the zone map can prune on. EXACT comparison filters
# only: each is false for NULL column values (parquet min/max stats
# ignore nulls, so a zone-excluded file provably holds no passing
# row). EqualNullSafe is deliberately absent — `a <=> NULL` is TRUE
# for null rows, which min/max can never witness. Not/IsNull/string
# matches are left for Spark to evaluate above the scan.
_ZONE_PRUNABLE = (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
    In,
)


def _zone_allows(mn, mx, filt: Filter) -> bool:
    """Can any value in the closed zone [mn, mx] satisfy ``filt``?
    Conservative: True on any doubt (absent stats, cross-type
    comparison). A False verdict is a PROOF of emptiness, because the
    accepted filter shapes are all false on NULL and parquet min/max
    bound every non-null value."""
    if mn is None or mx is None:
        return True
    try:
        if isinstance(filt, EqualTo):
            return mn <= filt.value <= mx
        if isinstance(filt, GreaterThan):
            return mx > filt.value
        if isinstance(filt, GreaterThanOrEqual):
            return mx >= filt.value
        if isinstance(filt, LessThan):
            return mn < filt.value
        if isinstance(filt, LessThanOrEqual):
            return mn <= filt.value
        if isinstance(filt, In):
            return any(mn <= v <= mx for v in filt.value)
    except TypeError:
        return True  # incomparable literal vs stats → cannot prune
    return True


def _prunable_row_groups(pf, filters: list[Filter]) -> list[int] | None:
    """Row-group indices of ``pf`` (a pyarrow ParquetFile) that survive
    zone pruning under the AND of ``filters`` — or None when every
    group survives (read-whole-file fast path). A filter on a column
    the file LACKS (pre-evolution file on a merge_schema lineage) is
    false for every row — those rows read as NULL — so the whole file
    prunes to []."""
    from utility_service_areas_spark.sources.versioned import exact_stat_bounds

    names = pf.schema_arrow.names
    col_idx: dict[str, int] = {}
    for f in filters:
        col = f.attribute[0]
        if col not in names:
            return []
        col_idx[col] = names.index(col)
    keep = []
    for rg in range(pf.num_row_groups):
        meta = pf.metadata.row_group(rg)
        ok = True
        for f in filters:
            st = meta.column(col_idx[f.attribute[0]]).statistics
            # exact_stat_bounds drops any bound the footer marks as
            # truncated — a shortened max is a PREFIX of the real max,
            # not a valid upper bound, and pruning on it could drop
            # matching rows (VERDICT r16 task #7). _zone_allows is
            # already conservative on a None bound.
            mn, mx = exact_stat_bounds(st)
            if not _zone_allows(mn, mx, f):
                ok = False
                break
        if ok:
            keep.append(rg)
    return None if len(keep) == pf.num_row_groups else keep


def _columns_option(options: dict) -> list[str] | None:
    """Parsed `.option("columns", "a,b,...")` — the versioned reader's
    explicit projection (VERDICT r16 task #2). The Python DataSource
    API has no pruneColumns hook, so `SELECT one_col` alone still
    announces the full schema; this option narrows the ANNOUNCED
    schema itself, and the Arrow scan then decodes only the named
    columns' pages (pyarrow `columns=`) — at 100 TB width the
    difference between full-row I/O and one column's."""
    raw = options.get("columns")
    if raw is None:
        return None
    cols = [c.strip() for c in str(raw).split(",") if c.strip()]
    if not cols:
        raise ValueError(
            "versioned_table: the columns option must name at least one "
            "column (omit the option to read all columns)"
        )
    if len(set(cols)) != len(cols):
        raise ValueError(f"versioned_table: duplicate name in columns={raw!r}")
    return cols


def _check_projection(want: list[str], available) -> None:
    unknown = [c for c in want if c not in available]
    if unknown:
        raise ValueError(
            f"versioned_table: columns option names unknown column(s) "
            f"{unknown}; table has {sorted(available)}"
        )


def _versioned_manifest(options: dict) -> tuple[str, dict]:
    from utility_service_areas_spark.sources import versioned as v

    path = _path_option(options)
    versions = v.list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed versions at {path}")
    want = options.get("version")
    ver = versions[-1] if want is None else int(want)
    return path, v._read_manifest(path, ver)


def _files_in_dirs(table_dir: str, rels: list[str]) -> list[str]:
    files = []
    for rel in rels:
        d = os.path.join(table_dir, rel)
        for name in sorted(os.listdir(d)):
            if name.endswith(".parquet"):
                files.append(os.path.join(d, name))
    return files


def _versioned_files(table_dir: str, manifest: dict) -> list[str]:
    return _files_in_dirs(table_dir, manifest["data_dirs"])


class VersionedTableReader(DataSourceReader):
    def __init__(self, options: dict, schema: "StructType"):
        self._table_dir, self._manifest = _versioned_manifest(options)
        self._columns = [f.name for f in schema.fields]
        self._schema = schema
        self._pushed: list[Filter] = []

    def pushFilters(self, filters):
        """Zone-map data skipping at plan time (VERDICT r15 task #2 —
        what Delta's stats-based file skipping does at 100 TB, fed here
        by the same parquet footer min/max that zone_map_audit reads;
        a production manifest would carry these stats write-side, the
        footer scan is the metadata-only equivalent). Spark 4.1 calls
        this once during planning; retained filters prune files in
        partitions() and row groups in read(). EVERY filter — accepted
        or not — is yielded back: footer pruning is partial (a
        surviving file still holds non-matching rows), so Spark must
        re-apply the predicate above the scan. Requires
        spark.sql.python.filterPushdown.enabled=true (session.py sets
        it; Spark refuses loudly, not silently, when unset)."""
        cols = set(self._columns)
        for f in filters:
            if (
                type(f) in _ZONE_PRUNABLE
                and len(f.attribute) == 1
                and f.attribute[0] in cols
            ):
                self._pushed.append(f)
            yield f

    def _pruned_buckets(self) -> "set[int] | None":
        """Bucket ids the pushed filters allow on a BUCKETED lineage,
        or None when bucket pruning does not apply (not every bucket
        key is pinned to a finite literal set, or a type the hash
        replica does not cover). Evaluates the table's own
        pmod(xxhash64(keys), n) driver-side — sparkhash.py is pinned
        against F.xxhash64, so the planner computes the same bucket
        the writer did."""
        from itertools import product

        from utility_service_areas_spark.functions.sparkhash import (
            spark_hash_bucket,
            supported_hash_type,
        )

        man = self._manifest
        cols = man.get("bucket_cols")
        if not cols:
            return None
        types = {f.name: f.dataType.simpleString() for f in self._schema.fields}
        per_col = []
        for c in cols:
            t = types.get(c)
            if t is None or not supported_hash_type(t):
                return None
            vals = None
            for f in self._pushed:
                if f.attribute[0] != c:
                    continue
                if isinstance(f, EqualTo):
                    s = {f.value}
                elif isinstance(f, In):
                    # IN with a NULL literal never matches the NULL
                    s = {v for v in f.value if v is not None}
                else:
                    continue  # range shapes don't pin a hash bucket
                vals = s if vals is None else (vals & s)
            if vals is None:
                return None  # this key isn't pinned to a finite set
            if not vals:
                return set()  # contradictory conjunction: empty scan
            if len(vals) > 64:
                return None  # not worth a combinatorial hash sweep
            per_col.append([(v, t) for v in sorted(vals, key=repr)])
        out: set[int] = set()
        for combo in product(*per_col):
            try:
                out.add(spark_hash_bucket(list(combo), man["n_buckets"]))
            except (KeyError, TypeError, ValueError, OverflowError):
                return None  # unexpected literal shape: cannot prune
        return out

    def partitions(self):
        # one partition per parquet part file — data-parallel reads,
        # empty snapshots (all rows deleted) give zero partitions
        files = None
        if self._pushed and "buckets" in self._manifest:
            allowed = self._pruned_buckets()
            if allowed is not None:
                # the layout's own hash pins the scan to these buckets
                dirs = [
                    d
                    for b in sorted(allowed)
                    for d in self._manifest["buckets"].get(str(b), [])
                ]
                files = _files_in_dirs(self._table_dir, dirs)
        if files is None:
            files = _versioned_files(self._table_dir, self._manifest)
        if not self._pushed:
            return [VersionedTablePartition(f) for f in files]
        file_stats = self._manifest.get("file_stats")
        if file_stats:
            # Write-time stats in the manifest (the Delta commit-log
            # posture): plan file skipping with ZERO footer I/O; the
            # survivors' row-group pruning happens executor-side in
            # read() against each file's own footer (row_groups=None +
            # pushed filters = prune locally).
            out = []
            for path in files:
                rel = os.path.relpath(path, self._table_dir)
                st = file_stats.get(rel)
                if st is not None and not all(
                    _zone_allows(*st["cols"].get(f.attribute[0], (None, None)), f)
                    for f in self._pushed
                ):
                    continue  # manifest zone provably excludes the file
                out.append(VersionedTablePartition(path, None))
            return out
        # No manifest stats: driver-side footer pass — skip files whose
        # zones provably exclude the conjunction, and hand survivors
        # their surviving row-group list. Metadata-only reads
        # (statistics, no data pages) — the same cost zone_map_audit
        # already pays.
        import pyarrow.parquet as pq

        out = []
        for path in files:
            pf = pq.ParquetFile(path)
            groups = _prunable_row_groups(pf, self._pushed)
            if groups == []:
                continue  # zone-excluded in full
            if groups is None:
                # every group survives: store the explicit full list so
                # read() knows pruning already happened — row_groups
                # None there means "planned from manifest stats, prune
                # executor-side", and leaving None here made read()
                # re-open and re-prune the same footer (ADVICE r16 #5)
                groups = list(range(pf.num_row_groups))
            out.append(VersionedTablePartition(path, groups))
        return out

    def read(self, partition: VersionedTablePartition):
        if partition is None:
            return
        if self._pushed and getattr(partition, "row_groups", None) is None:
            # manifest-stats planning skipped the footer driver-side:
            # prune row groups HERE, against the one footer this task
            # opens anyway — per-file metadata work scales with the
            # executors, not the driver
            import pyarrow.parquet as pq

            groups = _prunable_row_groups(
                pq.ParquetFile(partition.file_path), self._pushed
            )
            if groups == []:
                return
            partition = VersionedTablePartition(partition.file_path, groups)
        yield from _arrow_scan_file(partition, self._columns, self._schema)


def _arrow_scan_file(
    partition: VersionedTablePartition,
    columns: list[str],
    schema: "StructType",
):
    """Executor-side Arrow scan of one committed parquet file — shared
    by the batch and streaming versioned-table readers."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    pf = pq.ParquetFile(partition.file_path)
    # Zone-pruned partitions carry the row groups that survived
    # planning; everything else reads the whole file.
    rgs = getattr(partition, "row_groups", None)
    row_groups = list(range(pf.num_row_groups)) if rgs is None else rgs
    # Arrow batches bind to the announced schema POSITIONALLY, and
    # append allows schema-valid column REORDERING across commits
    # (the _schema_key check is order-insensitive) — so every
    # batch is re-projected to the reader's schema order. Without
    # this, a reordered-append table crashed on type mismatch or
    # silently swapped same-typed columns (r13 code review #1).
    file_cols = set(pf.schema_arrow.names)
    missing = [c for c in columns if c not in file_cols]
    # Decode ONLY the announced columns' pages (VERDICT r16 task #2):
    # `columns=` reaches the parquet column-chunk reader, so a
    # projected read — schema narrowed by the `columns` option — pays
    # one column's I/O, not full row width. (iter_batches returns
    # file order; the .select re-projects to announced order, a
    # zero-copy shuffle of array pointers.)
    present = [c for c in columns if c in file_cols]
    if not missing:
        for batch in pf.iter_batches(row_groups=row_groups, columns=present):
            yield batch.select(columns)
        return
    # evolved lineage (S33 merge_schema, r15): this file predates
    # an added column — surface it as NULLs of the announced type,
    # exactly like read_version's explicit-schema scan
    arrow_schema = to_arrow_schema(schema)
    for batch in pf.iter_batches(row_groups=row_groups, columns=present):
        arrays = []
        for name in columns:
            if name in file_cols:
                arrays.append(batch.column(name))
            else:
                arrays.append(
                    pa.nulls(
                        batch.num_rows,
                        type=arrow_schema.field(name).type,
                    )
                )
        yield pa.RecordBatch.from_arrays(arrays, names=columns)


class VersionedTableStreamReader(DataSourceStreamReader):
    """S46 (r16): `spark.readStream.format("versioned_table")` — the
    Delta STREAMING SOURCE posture for the versioned-table protocol.
    Each micro-batch emits the rows of versions committed since the
    last offset; the offset is simply the highest version consumed, so
    exactly-once across restarts falls out of the engine's offset log
    plus manifest immutability (a replayed range re-plans byte-
    identical dirs).

    Contract (Delta's): the stream tails APPEND commits — an append
    version contributes exactly its own commit's data dirs (the
    manifest diff vs its parent). The STARTING version contributes its
    full snapshot (data_dirs as committed), like Delta's initial
    snapshot; `.option("starting_version", n)` skips history (the
    stream begins with version n's full snapshot; n must still be
    committed — vacuumed history raises). A later OVERWRITE or MERGE
    version is NOT an append — it raises by default (silently treating
    a rewrite as new rows would double-count); pass
    `.option("ignore_changes", "true")` to emit such versions' new
    dirs anyway (Delta ignoreChanges: rewritten rows reappear,
    downstream must dedup — documented caveat, same name semantics).

    Schema is fixed at stream start (the latest manifest). Files from
    later versions that EVOLVED extra columns project down to it;
    pre-evolution files null-fill through the same Arrow path as the
    batch reader."""

    def __init__(self, options: dict, schema: StructType):
        self._table_dir = _path_option(options)
        self._schema = schema
        self._columns = [f.name for f in schema.fields]
        self._ignore_changes = str(
            options.get("ignore_changes", "false")
        ).lower() in ("true", "1")
        start = options.get("starting_version")
        self._starting_version = None if start is None else int(start)

    def initialOffset(self) -> dict:
        from utility_service_areas_spark.sources import versioned as v

        if self._starting_version is not None:
            if self._starting_version not in v.list_versions(self._table_dir):
                raise ValueError(
                    f"starting_version {self._starting_version} is not a "
                    f"committed version at {self._table_dir} (have "
                    f"{v.list_versions(self._table_dir)})"
                )
            # the starting version itself is emitted as the first batch
            return {"version": self._starting_version - 1}
        return {"version": -1}

    def latestOffset(self) -> dict:
        from utility_service_areas_spark.sources import versioned as v

        versions = v.list_versions(self._table_dir)
        if not versions:
            return {"version": -1}
        ver = versions[-1]
        # The offset carries its version's data-dir set (ADVICE r16
        # #4): a restart diffs the next version against THIS set, so
        # it never re-reads the historical manifest — which
        # vacuum(keep_last=N) may legitimately have deleted even
        # though every dir the stream still needs is retained.
        man = v._read_manifest(self._table_dir, ver)
        return {"version": ver, "dirs": sorted(man["data_dirs"])}

    def partitions(self, start: dict, end: dict):
        from utility_service_areas_spark.sources import versioned as v

        out = []
        prev_dirs: set[str] = set()
        for ver in range(start["version"] + 1, end["version"] + 1):
            man = v._read_manifest(self._table_dir, ver)  # raises if vacuumed
            is_first_emitted = ver == self._starting_version or (
                self._starting_version is None and ver == 0
            )
            if ver == start["version"] + 1 and not is_first_emitted:
                # a restart mid-stream needs the predecessor's dir set
                # to diff against; the first-emitted version is a FULL
                # snapshot, so history before it may be vacuumed freely.
                # Offsets written since r17 carry that set inline
                # (ADVICE r16 #4) — a restart arbitrarily far behind
                # never needs the possibly-vacuumed manifest; legacy
                # checkpoints fall back to reading it.
                if "dirs" in start:
                    prev_dirs = set(start["dirs"])
                else:
                    prev = v._read_manifest(self._table_dir, start["version"])
                    prev_dirs = set(prev["data_dirs"])
            if man.get("mode") != "append" and not is_first_emitted:
                if not self._ignore_changes:
                    raise RuntimeError(
                        f"version {ver} at {self._table_dir} is mode="
                        f"{man.get('mode')!r}, not an append — a streaming "
                        "read cannot treat a rewrite as new rows; set "
                        ".option('ignore_changes', 'true') to emit its new "
                        "files anyway (rewritten rows will reappear)"
                    )
            new_dirs = (
                list(man["data_dirs"])
                if is_first_emitted
                else [d for d in man["data_dirs"] if d not in prev_dirs]
            )
            for rel in new_dirs:
                d = os.path.join(self._table_dir, rel)
                for name in sorted(os.listdir(d)):
                    if name.endswith(".parquet"):
                        out.append(
                            VersionedTablePartition(os.path.join(d, name))
                        )
            prev_dirs = set(man["data_dirs"])
        return out

    def read(self, partition: VersionedTablePartition):
        # same Arrow fast path (projection + null-fill) as the batch
        # reader — one implementation of the file scan
        yield from _arrow_scan_file(partition, self._columns, self._schema)

    def commit(self, end: dict) -> None:
        pass  # offsets are version numbers; manifests are immutable


class VersionedTableDataSource(DataSource):
    """`spark.read.format("versioned_table").load(table_dir)` reads the
    LATEST committed version; `.option("version", n)` time-travels.
    Schema is resolved from the requested version's own parquet (an
    overwrite may change schema per lineage; a version with no files —
    everything deleted — falls back to the manifest's (name, type)
    signature). Crashed commits are invisible here for the same reason
    they are in read_version: only manifest-referenced dirs are ever
    listed.

    Comparison predicates on the load are pushed into planning
    (pushFilters) and prune whole files and row groups by parquet
    footer min/max — on a Z-ORDERed table (optimize_version) a range
    predicate reads the few files its zones allow instead of all of
    them, automatically (VERDICT r15 task #2; files_scanned_for_range
    predicts exactly the partition count planned). On a BUCKETED
    lineage (write_version_bucketed), EqualTo/In predicates covering
    the bucket key additionally prune to the matching buckets' dirs —
    the planner evaluates the layout's own pmod(xxhash64(keys), n)
    via the pinned replica in functions/sparkhash.py (r16). Spark
    re-applies every predicate above the scan, so results are
    row-identical with pruning on or off."""

    @classmethod
    def name(cls) -> str:
        return "versioned_table"

    def schema(self) -> StructType:
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        table_dir, manifest = _versioned_manifest(self.options)
        want = _columns_option(self.options)
        files = _versioned_files(table_dir, manifest)
        if files and not manifest.get("schema_evolved"):
            full = from_arrow_schema(pq.ParquetFile(files[0]).schema_arrow)
            if want is None:
                return full
            by_name = {f.name: f for f in full.fields}
            _check_projection(want, by_name)
            # announced schema IS the projection: the reader scans
            # only these columns' pages (VERDICT r16 task #2)
            return StructType([by_name[c] for c in want])
        # empty snapshot OR evolved lineage (a single file's schema
        # may predate added columns): the manifest signature is the
        # source of truth. Returned as a DDL STRING — the DataSource
        # API parses it JVM-side, which works in the session-less
        # Python subprocess where _parse_datatype_string cannot.
        pairs = manifest["schema"]
        if want is not None:
            by_type = {n: t for n, t in pairs}
            _check_projection(want, by_type)
            pairs = [[c, by_type[c]] for c in want]
        return ", ".join(f"{n} {t}" for n, t in pairs)

    def reader(self, schema: StructType) -> VersionedTableReader:
        return VersionedTableReader(self.options, schema)

    def streamReader(self, schema: StructType) -> VersionedTableStreamReader:
        return VersionedTableStreamReader(self.options, schema)


def register_versioned_table(spark: SparkSession) -> None:
    """Make `format("versioned_table")` resolvable in ``spark``; call it
    before reading the source. Idempotent within a session.

    Call it where the source is read, never from session setup: the
    first registration in a JVM starts Spark's lookup_data_sources
    Python worker (a pyspark.daemon process that scans for installed
    data sources), 1.5-2.3 s on 4 cores, which plain built-in-format
    reads never trigger. Registering in build_session charged that to
    every session. Once it stopped, perfbench setup_s medians over 10
    alternating pairs on 4 cores fell 10.05 -> 7.95 s
    (service_areas_etl) and 9.64 -> 8.75 s (curation_dedup), and
    session.build_s 7.79 -> 5.94 s and 8.08 -> 6.12 s.

    A SECOND session in one JVM may raise DATA_SOURCE_ALREADY_EXISTS
    (Spark 4.1's uniqueness check is JVM-global while lookup is
    per-session); that is tolerated — the caller's read still fails
    with DATA_SOURCE_NOT_FOUND if the source is genuinely unusable,
    which is the clearer error."""
    name = VersionedTableDataSource.name()
    if spark._jsparkSession.sessionState().dataSourceManager().dataSourceExists(name):
        return
    try:
        spark.dataSource.register(VersionedTableDataSource)
    except Exception as exc:  # pragma: no cover - cross-session only
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(exc):
            raise
