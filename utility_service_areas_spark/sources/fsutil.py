"""Shared filesystem helpers for the manifest-committed stores
(BM25 segments, IVFPQ segments, versioned tables).

- ``newest_mtime``: the one age-gate discipline (ADVICE r14 #4). A
  directory is only 'stale' once the NEWEST entry in its whole tree
  is older than the grace window — the top-level mtime goes stale the
  moment the first child lands, so gating on it could sweep an
  in-flight write. The versioned-table vacuum and ``vacuum_index``
  both age entries with it.
- The segment-index store both persisted indexes
  (operators/vector_index.py, operators/text_index.py) commit through:
  the layout (``MANIFEST_NAME``, ``segments_root``), the staged-segment
  rename (``stage_segment``), the manifest load (``read_manifest``,
  ``load_manifest``), the generation-claimed commit
  (``commit_manifest``), its retry loop (``commit_attempts``, budget
  ``COMMIT_ATTEMPTS``), the build overwrite (``commit_overwrite``),
  the compaction's retirement stamp (``stamp_retired``) and the
  age-gated sweep (``vacuum_index``). The index modules keep only
  their own work: encoding or tokenizing a batch, and the manifest
  delta they re-apply after a lost claim.
- Manifest generation claims (``claim_generation``,
  ``clear_generation_markers``): the optimistic-concurrency primitive
  under ``commit_manifest``; no package code outside this module
  calls them (tests/test_static_guards.py holds that).

The versioned tables claim versions by hard link instead (one
helper, ``versioned._claim_version``): their manifests are
per-version files, not one replaced file.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

MANIFEST_NAME = "_MANIFEST.json"

# How many times an index mutation re-reads, re-applies its delta and
# re-claims before giving up on a contended store.
COMMIT_ATTEMPTS = 20


def newest_mtime(path: str) -> float | None:
    """max mtime over ``path`` and everything under it, or None if the
    path vanished (its writer finished or another sweeper won)."""
    try:
        latest = os.path.getmtime(path)
    except FileNotFoundError:
        return None
    for walk_root, dirs, files in os.walk(path):
        for name in dirs + files:
            try:
                latest = max(
                    latest, os.path.getmtime(os.path.join(walk_root, name))
                )
            except FileNotFoundError:
                continue
    return latest


# ---------------------------------------------------------------------------
# Segment-index store. Layout under ``index_dir``:
#
#     segments/seg-<token>/   one immutable segment per build/add batch
#     segments/_tmp-seg-*/    a segment being staged (never read)
#     _MANIFEST.json          the ONLY commit point: lists the segments
#     _gen-N                  generation claim markers
# ---------------------------------------------------------------------------


def manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, MANIFEST_NAME)


def segments_root(index_dir: str) -> str:
    return os.path.join(index_dir, "segments")


def read_manifest(index_dir: str) -> dict:
    """The committed manifest. Raises FileNotFoundError when there is
    none — a crashed build's partial parquet is invisible by contract."""
    path = manifest_path(index_dir)
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"no committed index at {index_dir} ({MANIFEST_NAME} missing — "
            "a partial/crashed build is not readable)"
        )
    with open(path) as f:
        return json.load(f)


def load_manifest(index_dir: str, format_version: int) -> dict:
    """``read_manifest``, refusing a manifest of another format."""
    manifest = read_manifest(index_dir)
    if manifest.get("format_version") != format_version:
        raise ValueError(
            f"index format {manifest.get('format_version')} != {format_version}"
        )
    return manifest


def stage_segment(index_dir: str, write) -> dict | None:
    """Stage one immutable segment and publish its directory with a
    single atomic rename. ``write(staged_dir)`` writes the segment's
    parquet and returns its manifest counts, measured from the staged
    files (O(batch)), or None when the batch is empty — the staging
    dir is then removed. Returns ``{"name": ..., **counts}`` or None.
    The segment stays invisible to readers until the caller commits a
    manifest listing it."""
    token = uuid.uuid4().hex[:12]
    root = segments_root(index_dir)
    os.makedirs(root, exist_ok=True)
    staged = os.path.join(root, f"_tmp-seg-{token}")
    counts = write(staged)
    if counts is None:
        shutil.rmtree(staged)
        return None
    os.rename(staged, os.path.join(root, f"seg-{token}"))  # whole or not at all
    return {"name": f"seg-{token}", **counts}


def commit_manifest(index_dir: str, manifest: dict) -> bool:
    """The single commit point of every index mutation. Claims
    generation read+1 (ADVICE r15: an unclaimed read-modify-write let
    two concurrent adds both commit, the LAST replace silently
    dropping the other's segment), then replaces the manifest
    atomically (temp + os.replace) — readers see the old manifest or
    the new one, never a torn file. Returns False when another writer
    committed first: the caller re-reads and re-applies its delta, or
    aborts when the deltas conflict."""
    gen = int(manifest.get("generation", 0)) + 1
    if not claim_generation(index_dir, gen):
        return False
    manifest["generation"] = gen
    tmp = manifest_path(index_dir) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, manifest_path(index_dir))
    # markers below the committed generation are dead history
    clear_generation_markers(index_dir, below=gen)
    return True


def commit_attempts(index_dir: str, what: str):
    """The optimistic-concurrency loop every index mutation runs:
    yields the attempt number (0, 1, ...) up to ``COMMIT_ATTEMPTS``
    times, sleeping briefly before each retry. The caller rebuilds its
    manifest from fresh state on a retry and leaves the loop once
    ``commit_manifest`` wins; exhausting the budget raises."""
    for attempt in range(COMMIT_ATTEMPTS):
        if attempt:
            time.sleep(0.05)
        yield attempt
    raise RuntimeError(
        f"{what} could not claim a manifest generation at {index_dir} "
        f"in {COMMIT_ATTEMPTS} attempts (extreme commit contention)"
    )


def commit_overwrite(index_dir: str, manifest: dict) -> dict:
    """Commit a freshly built index over whatever is committed (a
    rebuild REPLACES a racer's commit — overwrite semantics, like every
    build). A live index's generation is carried forward so the claim
    stays monotonic. With no committed manifest, any leftover marker is
    a crashed build's claim (there is no committed state a racer's
    delta could lose), so they are cleared rather than wedging the
    bootstrap behind the steal gate."""
    for _attempt in commit_attempts(index_dir, "build"):
        try:
            manifest["generation"] = int(
                read_manifest(index_dir).get("generation", 0)
            )
        except FileNotFoundError:
            manifest.pop("generation", None)
            clear_generation_markers(index_dir)
        if commit_manifest(index_dir, manifest):
            return manifest


def stamp_retired(index_dir: str, names: list[str]) -> None:
    """Stamp RETIREMENT time (os.utime) on segment dirs a compaction
    just unlisted (ADVICE r15 #3): ``vacuum_index``'s grace window then
    protects a pre-compaction manifest's reader for the full window
    from now — an old segment's write-time mtime would make it
    sweepable the instant it was retired."""
    root = segments_root(index_dir)
    for name in names:
        try:
            os.utime(os.path.join(root, name))
        except FileNotFoundError:
            pass


def vacuum_index(
    index_dir: str,
    grace_seconds: float = 600.0,
    dry_run: bool = False,
) -> dict:
    """Reclaim segment dirs the manifest no longer (or never) lists:
    compaction-retired segments, torn-add leftovers, crashed staging
    dirs. Age-gated off the NEWEST file in each segment tree: a dir
    younger than ``grace_seconds`` is spared, so a vacuum can never
    delete a segment an in-flight reader loaded from a just-replaced
    manifest, nor one a writer staged or renamed but has not yet
    committed. ``dry_run=True`` returns the exact would-delete list
    without touching disk. Runs regardless of the live segment count (a
    1-segment index can still carry orphans from a crash). Deletions
    tolerate a concurrent sweeper (ignore_errors)."""
    listed = {s["name"] for s in read_manifest(index_dir)["segments"]}
    root = segments_root(index_dir)
    now = time.time()
    drop = []
    if os.path.isdir(root):
        for name in sorted(os.listdir(root)):
            if name in listed:
                continue
            latest = newest_mtime(os.path.join(root, name))
            if latest is not None and now - latest >= grace_seconds:
                drop.append(name)
    plan = {"dirs_removed": len(drop), "dirs": drop, "dry_run": dry_run}
    if dry_run:
        return plan
    for name in drop:
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    return plan


# ---------------------------------------------------------------------------
# Manifest generation claims (ADVICE r15): a store's manifest
# read-modify-write claims generation read+1 with an O_EXCL marker
# before the atomic replace — exactly one writer commits each
# generation; a loser re-reads the winner's manifest and re-applies
# its delta (or aborts loudly when the deltas conflict).
# ---------------------------------------------------------------------------

# How long an unfinished claim blocks other writers before they steal
# it (a crashed writer's marker must not wedge the store forever; a
# LIVE writer finishes its replace in milliseconds).
GEN_STEAL_SECONDS = 60.0


def committed_generation(root: str) -> int:
    """Generation recorded in the store's committed manifest (0 when
    the store is empty/unreadable — then no marker is a committed one
    and the steal gate cannot block)."""
    try:
        with open(manifest_path(root)) as f:
            return int(json.load(f).get("generation", 0))
    except (FileNotFoundError, ValueError, TypeError, json.JSONDecodeError):
        return 0


def claim_generation(root: str, gen: int) -> bool:
    """O_CREAT|O_EXCL claim of manifest generation ``gen`` under
    ``root``. Exactly one writer wins a generation number. A marker
    older than ``GEN_STEAL_SECONDS`` is a crashed writer's leftover —
    removed so the next attempt can claim (the remove itself tolerates
    a racing stealer). Only markers ABOVE the committed manifest's
    generation are stealable: a marker at or below it is the committed
    history's claim record — the very thing that makes a stale-read
    racer's O_EXCL fail — and stealing it would let two slow writers
    (>steal window staging segments) replace a committed generation
    with one built from stale state, silently dropping the real
    winner's delta (ADVICE r16 #2)."""
    marker = os.path.join(root, f"_gen-{gen:09d}")
    try:
        os.close(os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        return True
    except FileExistsError:
        try:
            age = time.time() - os.path.getmtime(marker)
        except FileNotFoundError:
            return False  # holder finished or another stealer won
        if age >= GEN_STEAL_SECONDS and gen > committed_generation(root):
            try:
                os.remove(marker)  # crashed claimer: unwedge the store
            except FileNotFoundError:
                pass
        return False


def clear_generation_markers(root: str, below: int | None = None) -> None:
    """Remove claim markers under ``root`` — all of them (a fresh store
    bootstrap over crashed-claim leftovers), or only those strictly
    below ``below`` (committed history; the CURRENT generation's marker
    must persist, it is what makes a stale-read racer's claim fail)."""
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return
    for name in names:
        if not name.startswith("_gen-"):
            continue
        try:
            gen = int(name[5:])
        except ValueError:
            continue
        if below is not None and gen >= below:
            continue
        try:
            os.remove(os.path.join(root, name))
        except FileNotFoundError:
            pass
