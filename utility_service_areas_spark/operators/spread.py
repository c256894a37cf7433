"""Scale-adaptive fan-out for CPU-dense map stages (r17).

Text kernels (shingling, per-shingle hashing, gram explodes) are far
denser in CPU than in bytes, so the scan's byte-sized partitioning
under-parallelizes them on small/medium inputs: a single-file corpus
arrives as one input partition and the whole tokenize+hash pass runs
on one core. The old fix was ``repartition(defaultParallelism, id)``,
which at bench scale fans 0.6 MB of text into 32 near-empty tasks and
makes every downstream stage (and every cached/checkpointed frame
derived from it) 32 tasks wide — pure scheduling overhead.

``cpu_spread`` keeps the repartition conditional (a wide cluster scan
is left alone — no extra shuffle of the raw corpus at 100 TB) but
derives the fan-out width from the INPUT SIZE instead of the core
count: one task per ~``SPARK_GRAFT_CPU_TASK_BYTES`` (default 128 KiB)
of source bytes, capped at ``defaultParallelism``. 128 KiB of raw
text is roughly 0.5-1 s of shingle+md5 work per task — large enough
to amortize task overhead, small enough to saturate the cores by the
time the input reaches a few MiB. When the input size is unknowable
(in-memory frames), the old defaultParallelism width is kept.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame

_ENV = "SPARK_GRAFT_CPU_TASK_BYTES"
_DEFAULT_BYTES_PER_TASK = 128 * 1024


def _resolve_bytes_per_task(bytes_per_task: int | None) -> int:
    per_task = bytes_per_task
    if per_task is None:
        try:
            per_task = int(os.environ.get(_ENV, _DEFAULT_BYTES_PER_TASK))
        except ValueError:
            per_task = _DEFAULT_BYTES_PER_TASK
    return max(1, per_task)


def _bytes_of(files: list[str]) -> int | None:
    if not files:
        return None
    nbytes = 0
    for p in files:
        local = p[5:] if p.startswith("file:") else p
        try:
            nbytes += os.path.getsize(local)
        except OSError:
            return None
    return nbytes


def _input_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes behind a file-backed scan; None when the
    input files aren't visible (in-memory frames, non-file sources).
    NOTE: ``df.inputFiles()`` forces analysis + file-index resolution —
    call it once per spread decision, not per helper."""
    try:
        files = list(df.inputFiles())
    except Exception:
        return None
    return _bytes_of(files)


def _width_from_bytes(
    nbytes: int | None, target: int, bytes_per_task: int | None
) -> int:
    per_task = _resolve_bytes_per_task(bytes_per_task)
    if nbytes is None or nbytes <= 0:
        return target
    return max(1, min(target, math.ceil(nbytes / per_task)))


def cpu_spread_width(
    df: DataFrame, target: int, bytes_per_task: int | None = None
) -> int:
    """Partitions a CPU-dense projection over ``df`` should fan out
    to: ceil(input_bytes / bytes_per_task), clamped to [1, target];
    ``target`` when the input size cannot be determined.

    ``bytes_per_task`` defaults to the env/128 KiB budget tuned for
    the text kernels (md5/shingle storms — ~0.5-1 s of work per
    128 KiB); callers with lighter per-byte work (e.g. relational
    join+agg over numeric columns) pass a larger budget — measured
    ~1.5 MiB/task optimal for the lineitem join shapes (r17; 32-way
    over 11 MB was SLOWER than 8-way)."""
    return _width_from_bytes(_input_bytes(df), target, bytes_per_task)


def _scan_partitions_from_bytes(
    df: DataFrame, nbytes: int | None, n_files: int
) -> int | None:
    """Rough count of the partitions a file-backed scan will produce
    (Spark's split packing: bytes / maxPartitionBytes, each file
    charged openCostInBytes) — WITHOUT touching ``df.rdd``, which
    would run the whole analyze/optimize/plan pipeline just to read a
    partition count (~50-90 ms per call, r17)."""
    if nbytes is None:
        return None
    conf = df.sparkSession.conf
    try:
        max_split = int(conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
        open_cost = int(conf.get("spark.sql.files.openCostInBytes", "4194304"))
    except (TypeError, ValueError):
        return None
    return max(1, math.ceil((nbytes + n_files * open_cost) / max(1, max_split)))


def cpu_spread(
    df: DataFrame,
    key: Column,
    bytes_per_task: int | None = None,
    skip_if_broadcastable: bool = False,
) -> DataFrame:
    """Hash-repartition ``df`` on ``key`` for a CPU-dense downstream
    projection ONLY when the scan arrived too narrow to parallelize it
    (single-file local sources); a real cluster's wide scan is
    returned untouched — no extra shuffle of the raw input.

    ``skip_if_broadcastable``: pass True when ``df`` feeds a join whose
    OTHER side is at least as large, so the engine may pick ``df`` as
    the broadcast build side. A repartition Exchange feeding a
    BroadcastExchange is pure overhead (the probe side gains nothing
    from the build side's partitioning — r17 regional_order_volume
    −22%), so the spread is skipped while the frame's input bytes are
    under ``spark.sql.autoBroadcastJoinThreshold``. Above the
    threshold (any at-scale input) the spread applies as usual."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # One inputFiles() pass feeds the narrowness estimate, the
    # broadcast guard, and the width (each inputFiles call re-analyzes
    # the plan and re-resolves the file index — real driver latency on
    # hot construction paths).
    try:
        files = list(df.inputFiles())
    except Exception:
        files = []
    nbytes = _bytes_of(files)
    est = _scan_partitions_from_bytes(df, nbytes, len(files))
    if est is None:
        est = df.rdd.getNumPartitions()
    if est >= max(2, target // 4):
        return df
    if skip_if_broadcastable:
        try:
            thresh = int(
                df.sparkSession.conf.get(
                    "spark.sql.autoBroadcastJoinThreshold", "10485760"
                )
            )
        except (TypeError, ValueError):
            thresh = 10 * 1024 * 1024
        if thresh > 0 and nbytes is not None and nbytes < thresh:
            return df
    return df.repartition(_width_from_bytes(nbytes, target, bytes_per_task), key)
