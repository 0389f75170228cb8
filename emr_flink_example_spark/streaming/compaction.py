"""Small-file compaction for partitioned parquet layouts.

The reference declares `sink.partition-commit... auto-compaction='true'` but
the feature is non-functional in its Flink version (Kafka2S3Hive.scala:107,
comment :87). Here it is a working periodic batch job: find leaf partition
directories whose parquet files are smaller/more numerous than the target,
rewrite them coalesced, and swap atomically (write-then-rename).

Scale notes: each partition compacts independently — schedule the job over
recently-committed partitions only (the commit ledger from
partition_commit.py gives exactly that list), so cost tracks ingest rate,
not table size. The rewrite itself is a single narrow `coalesce` (no
shuffle): files are combined within the partition, never moved across
partitions. All file operations go through the `fsio.FSIO` seam, so the
same protocol runs on local disk (`LocalFS`) or any Hadoop FileSystem
(`HadoopFS` — HDFS/S3A/file://); on stores whose rename is
delete+rename, the deterministic `compacted-<gen>-<i>` names plus the
`_compact-<gen>.committed` marker keep the protocol replay-safe (see
fsio module docstring).

Streaming compaction — Hive partitions (`compact_partition_atomic`) and
the `batch_id=N` state directories of the sketch/sample sinks and the
dedup band index (`BatchDirSink`) — runs inside foreachBatch, where a
checkpoint replay re-runs a crashed compaction. All of it goes through
the one crash protocol `compact_generation`; callers supply only their
merge, source files, target directory and output file count.
"""

from __future__ import annotations

import math
import posixpath
import uuid
from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from .fsio import FSIO, LocalFS, fs_for_path

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024  # ≙ sink.rolling-policy.file-size


@dataclass
class CompactionStats:
    partition_dir: str
    files_before: int
    files_after: int
    bytes_total: int
    compacted: bool


def _leaf_parquet_dirs(fs: FSIO, root: str) -> list[str]:
    return sorted(
        d
        for d, files in fs.walk_files(root)
        if any(f.endswith(".parquet") for f in files)
    )


def _parquet_files(fs: FSIO, d: str) -> list[str]:
    return [
        fs.join(d, f) for f in fs.list_files(d) if f.endswith(".parquet")
    ]


def compact_partition(
    spark: SparkSession,
    partition_dir: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    fs: FSIO | None = None,
) -> CompactionStats:
    """Rewrite one partition directory's parquet files coalesced to the
    target size. No-op when already at/below the ideal file count."""
    fs = fs or LocalFS()
    files = _parquet_files(fs, partition_dir)
    total = sum(fs.size(f) for f in files)
    ideal = max(1, math.ceil(total / target_file_bytes))
    if len(files) <= ideal:
        return CompactionStats(partition_dir, len(files), len(files), total, False)

    tmp = fs.join(
        fs.parent(partition_dir), f".compact-{uuid.uuid4().hex[:8]}"
    )
    (
        spark.read.parquet(partition_dir)
        .coalesce(ideal)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    new_files = _parquet_files(fs, tmp)
    # swap: old data files out, compacted files in (same directory path, so
    # catalog partition locations stay valid)
    for f in files:
        fs.remove(f)
    for f in new_files:
        fs.rename_overwrite(f, fs.join(partition_dir, fs.basename(f)))
    fs.rmtree(tmp)
    return CompactionStats(partition_dir, len(files), len(new_files), total, True)


def compact_path(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    fs: FSIO | None = None,
) -> list[CompactionStats]:
    """Compact every leaf partition directory under `root`."""
    fs = fs or LocalFS()
    return [
        compact_partition(spark, d, target_file_bytes, fs=fs)
        for d in _leaf_parquet_dirs(fs, root)
    ]


def generation_sources(fs: FSIO, dirs: list[str], gen: int) -> list[str]:
    """The data files under `dirs` that compaction generation `gen` folds:
    every parquet file except the generation's own ``compacted-<gen>-*``
    output. A crashed attempt's output is stale state, never an input;
    older generations' compacted files are legitimate sources."""
    own_prefix = f"compacted-{gen}-"
    return [
        f
        for d in dirs
        for f in _parquet_files(fs, d)
        if not fs.basename(f).startswith(own_prefix)
    ]


def compact_generation(
    spark: SparkSession,
    fs: FSIO,
    gen: int,
    target_dir: str,
    sources: list[str],
    merge: Callable[[DataFrame], DataFrame],
    n_files: int,
    retire: Sequence[str] = (),
) -> list[str] | None:
    """Publish ``merge(sources)`` into `target_dir` as compaction
    generation `gen`, then retire everything it supersedes: the other
    data files of `target_dir` and the `retire` directories. Returns the
    published file names, or None when there is nothing to fold (no
    directory to retire and the sources already fit in `n_files`).

    The one crash protocol of every compacting state directory. A
    checkpoint replay re-runs the same `gen` after a crash at any point,
    and the protocol is correct for any merge, SUM included:

      1. `sources` exclude this generation's own output
         (`generation_sources`);
      2. the merge is written to a dot-prefixed ``.compact-<gen>`` sibling
         of `target_dir`, which readers ignore;
      3. its files are renamed into `target_dir` as
         ``compacted-<gen>-<i>.parquet`` — deterministic names, so a
         replay overwrites a crashed attempt's output byte-for-byte;
      4. the ``_compact-<gen>.committed`` marker, listing those names, is
         written only after publication;
      5. sources are deleted only after the marker exists (`_sweep`);
      6. the sweep removes the marker last;
      7. a replay that finds the marker skips straight to the sweep, so it
         never re-reads half-deleted sources.
    """
    marker = fs.join(target_dir, f"_compact-{gen}.committed")
    if not fs.exists(marker):
        if len(sources) <= n_files and not retire:
            return None
        tmp = fs.join(fs.parent(target_dir), f".compact-{gen}")
        merge(spark.read.parquet(*sources)).coalesce(n_files).write.mode(
            "overwrite"
        ).parquet(tmp)
        keep = []
        for i, f in enumerate(sorted(_parquet_files(fs, tmp))):
            name = f"compacted-{gen}-{i:05d}.parquet"
            fs.rename_overwrite(f, fs.join(target_dir, name))
            keep.append(name)
        fs.rmtree(tmp)
        fs.write_text_atomic(marker, "\n".join(keep))
    keep = fs.read_text(marker).split()
    _sweep(fs, target_dir, set(keep), retire, marker)
    return keep


def _sweep(
    fs: FSIO, target_dir: str, keep: set[str], retire: Sequence[str], marker: str
) -> None:
    """Idempotent post-publication sweep: retire every source the
    published generation covers, then the marker. Safe to re-run after a
    crash at any point."""
    for d in retire:
        fs.rmtree(d)
    for f in fs.list_files(target_dir):
        if f not in keep and not f.startswith((".", "_")):
            fs.remove(fs.join(target_dir, f))
    fs.remove(marker)


def compact_partition_atomic(
    spark: SparkSession,
    partition_dir: str,
    gen: int,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    fs: FSIO | None = None,
) -> CompactionStats:
    """Crash-safe, replay-idempotent variant of `compact_partition` for use
    INSIDE a streaming foreachBatch (PartitionCommitter auto-compaction),
    where a checkpoint replay re-runs the same `gen` after any crash
    point: `compact_generation` with a plain concat coalesced to the
    ideal file count."""
    fs = fs or LocalFS()
    files = generation_sources(fs, [partition_dir], gen)
    total = sum(fs.size(f) for f in files)
    ideal = max(1, math.ceil(total / target_file_bytes))
    keep = compact_generation(
        spark, fs, gen, partition_dir, files, lambda df: df, ideal
    )
    if keep is None:
        return CompactionStats(partition_dir, len(files), len(files), total, False)
    return CompactionStats(partition_dir, len(files), len(keep), total, True)


class BatchDirSink:
    """Shared plumbing of the foreachBatch sinks whose state is one
    ``batch_id=N`` parquet directory per micro-batch (the HLL, count-min
    and ES-sample streams and the dedup band index): the lazily resolved
    fsio backend, the idempotent per-batch overwrite, and the
    every-`compact_every`-batches fold of the older directories."""

    def __init__(self, root: str, compact_every: int, fs: FSIO | None) -> None:
        #: every N batches, fold the older batch directories into the
        #: oldest one — unbounded small-file accretion otherwise. 0 disables.
        self.compact_every = compact_every
        #: fsio seam — LocalFS for plain paths, HadoopFS resolved lazily
        #: for URI-scheme paths (needs the SparkSession's JVM gateway)
        self.fs = fs if fs is not None else (
            LocalFS() if "://" not in root else None
        )
        self._fs_root = root

    def _resolve_fs(self, spark: SparkSession) -> None:
        if self.fs is None:
            self.fs = fs_for_path(spark, self._fs_root)

    @staticmethod
    def _write_batch(
        df: DataFrame, path: str, batch_id: int, n_files: int = 1
    ) -> None:
        """Overwrite the batch's own directory: a checkpoint replay
        rewrites identical bytes instead of appending a second copy."""
        df.coalesce(n_files).write.mode("overwrite").parquet(
            posixpath.join(path, f"batch_id={batch_id}")
        )

    def _compact_due(self, batch_id: int) -> bool:
        return bool(
            self.compact_every and batch_id > 0 and batch_id % self.compact_every == 0
        )

    def _fold_older(
        self,
        spark: SparkSession,
        path: str,
        gen: int,
        merge: Callable[[DataFrame], DataFrame],
    ) -> None:
        """Fold every ``batch_id=`` directory of `path` older than batch
        `gen` into the oldest one, as compaction generation `gen`. A
        replay only ever rewrites the latest batch, so the folded rows
        keep a batch_id no replay excludes."""
        fs = self.fs
        old = sorted(
            (int(d.split("=", 1)[1]), fs.join(path, d))
            for d in fs.list_dirs(path)
            if d.startswith("batch_id=") and int(d.split("=", 1)[1]) < gen
        )
        if not old:
            return
        dirs = [d for _, d in old]
        compact_generation(
            spark,
            fs,
            gen,
            dirs[0],
            generation_sources(fs, dirs, gen),
            merge,
            1,
            retire=dirs[1:],
        )
