"""Sink maintenance: small-file compaction and dt-partition retention.

The bounded-files sink write (writers.py) caps files per (category, dt)
partition per RUN — but a long-lived warehouse accumulates runs, and at
10^12 turns the records sink collects the classic small-files problem:
commit walks, lineage reads, and every downstream scan pay per file.
These are the two maintenance jobs a production table needs (what
Iceberg ships as ``rewriteDataFiles`` and ``expireSnapshots`` /
partition-level retention; the reference has no analog — its warehouse
is a single DuckDB file):

- :func:`compact_sink` — rewrite fragmented (category, dt) partitions
  into ~``target_mb`` files, preserving the (session, thread, trx_id)
  sort that stands in for the reference's deferred indexes
  (duckdb_impl.rs:124-136).
- :func:`expire_partitions` — drop dt= partitions older than a cutoff,
  a pure metadata delete (partition pruning makes age-out free; no data
  scan, no rewrite).

Both go through ``pyarrow.fs`` (same as lineage.py) so s3://-style URIs
use the same listing/rename code path (Spark receives the original
scheme-qualified paths, pyarrow the fs-native ones).

Crash safety: a partition swap is two renames through underscore-
prefixed staging names (``_compact_*`` for the new layout, ``_old_*``
for the displaced one) — Spark ignores ``_*`` paths.  The swap protocol
requires ATOMIC DIRECTORY RENAME, so :func:`compact_sink` refuses to run
on filesystems without it (object stores emulate a directory move as
per-object copy+delete; a crash mid-move would interleave two layouts):
local and HDFS are allowed, s3://-style URIs are rejected up front
(r6 hardening, ADVICE r5).  Even on an atomic-rename filesystem there is
a window between the two renames where the live directory does not exist
— run maintenance without concurrent readers of the partition being
rewritten.  A crash between the renames leaves the partition parked
under ``_old_*``; :func:`compact_sink` REPAIRS such states up front
(restore ``_old_*`` when the live dir is missing, drop it only after the
live dir's parquet footers account for the same rows, clear stale
``_compact_*``) so maintenance is safe to re-run after any interruption.
"""

from __future__ import annotations

import posixpath
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from sqllog_analysis_spark.sinks.lineage import _relpath, _resolve
from sqllog_analysis_spark.sinks.writers import RECORDS_SORT

_TMP = "_compact_"
_OLD = "_old_"


def _scheme_prefix(path_or_uri: str) -> str:
    """'s3://bucket/x' → 's3://'; local paths → '' (pyarrow-native paths
    get this prefix back before they are handed to Spark)."""
    return path_or_uri.split("://", 1)[0] + "://" if "://" in path_or_uri else ""


def _partition_dirs(fs, records_root: str) -> list[str]:
    """category=<c>/dt=<d> directories under the records sink."""
    from pyarrow import fs as pafs

    out = []
    sel = pafs.FileSelector(records_root, recursive=False, allow_not_found=True)
    for cat in fs.get_file_info(sel):
        if cat.type != pafs.FileType.Directory or not posixpath.basename(
            cat.path
        ).startswith("category="):
            continue
        for dt in fs.get_file_info(pafs.FileSelector(cat.path, recursive=False)):
            if dt.type == pafs.FileType.Directory and posixpath.basename(
                dt.path
            ).startswith("dt="):
                out.append(dt.path)
    return sorted(out)


def _parquet_infos(fs, part_dir: str) -> list:
    """(path, size) of the partition's parquet files — ONE directory
    listing; sizes come from the same FileInfo batch (no per-file stat,
    which on an object store would be a HEAD request per file)."""
    from pyarrow import fs as pafs

    sel = pafs.FileSelector(part_dir, recursive=False, allow_not_found=True)
    return sorted(
        (i.path, i.size or 0)
        for i in fs.get_file_info(sel)
        if i.type == pafs.FileType.File and i.path.endswith(".parquet")
    )


def _dir_rows(fs, part_dir: str) -> int:
    """Sum of parquet footer row counts under ``part_dir`` — metadata-only
    (footer reads), used by the conservative repair below."""
    import pyarrow.parquet as pq

    total = 0
    for path, _ in _parquet_infos(fs, part_dir):
        total += pq.ParquetFile(fs.open_input_file(path)).metadata.num_rows
    return total


def _repair_interrupted_swaps(fs, root: str) -> None:
    """Finish/undo any swap a previous crash left half-done (see module
    docstring).  Metadata + footer reads only; idempotent.

    Conservative (r6, ADVICE r5): ``_old_*`` is deleted ONLY when the
    live directory's parquet footers account for the same number of rows
    — the swap-completed proof.  On a row-count mismatch the original
    rows are restored by merging ``_old_*`` back into the live directory
    (same-name files are skipped: a partial directory move copies files
    under unchanged names, so the merge reassembles the original set
    without duplication — Spark part-file names embed a per-write UUID,
    so files from different writes can never collide by name)."""
    from pyarrow import fs as pafs

    sel = pafs.FileSelector(root, recursive=False, allow_not_found=True)
    for cat in fs.get_file_info(sel):
        if cat.type != pafs.FileType.Directory:
            continue
        for child in fs.get_file_info(pafs.FileSelector(cat.path, recursive=False)):
            base = posixpath.basename(child.path)
            if child.type != pafs.FileType.Directory:
                continue
            if base.startswith(_OLD):
                live = posixpath.join(cat.path, base[len(_OLD):])
                if fs.get_file_info(live).type == pafs.FileType.NotFound:
                    # crashed between the two renames: old layout is the
                    # only complete one — restore it
                    fs.move(child.path, live)
                elif _dir_rows(fs, live) == _dir_rows(fs, child.path):
                    # swap provably completed, cleanup didn't — finish it
                    fs.delete_dir(child.path)
                else:
                    # rows differ: never drop _old_ — merge it back so no
                    # original row is lost, then clear the parked dir
                    live_names = {
                        posixpath.basename(p) for p, _ in _parquet_infos(fs, live)
                    }
                    for p, _ in _parquet_infos(fs, child.path):
                        if posixpath.basename(p) not in live_names:
                            fs.move(p, posixpath.join(live, posixpath.basename(p)))
                    fs.delete_dir(child.path)
            elif base.startswith(_TMP):
                fs.delete_dir(child.path)  # stale staging, always safe


def compact_sink(
    spark: SparkSession,
    out_dir: str,
    target_mb: int = 128,
    min_files: int = 2,
    max_concurrency: int = 4,
) -> list[dict]:
    """Rewrite fragmented (category, dt) partitions of the records sink
    into ``ceil(bytes / target_mb)`` files each.

    Partitions already at or under their target file count (or with
    fewer than ``min_files`` files) are left untouched — compaction is
    idempotent and a second run is a metadata-only no-op.  Interrupted
    runs are repaired before planning (module docstring).

    Returns one stats dict per REWRITTEN partition:
    ``{partition, files_before, files_after, bytes}``.

    Scale shape: planning is a metadata walk (one listing per directory
    — the same O(#dirs) cost lineage already pays); each rewrite is an
    independent distributed job over ONE partition directory
    (``repartition(want)`` so the output file count honors the target
    even when the scan bin-packs the small files into fewer splits),
    and rewrites of different partitions run concurrently from driver
    threads.  At 10^12 turns this is exactly Iceberg's
    ``rewriteDataFiles`` plan: per-partition jobs, never a global
    shuffle of the table.
    """
    records_root = posixpath.join(out_dir.rstrip("/"), "records")
    fs, root = _resolve(records_root)
    # the swap protocol needs atomic directory rename (module docstring);
    # object stores fake a directory move as per-object copy+delete, so a
    # crash mid-move would interleave two layouts — refuse up front
    fs_kind = getattr(fs, "type_name", "unknown")
    if fs_kind not in ("local", "hdfs"):
        raise ValueError(
            f"compact_sink requires atomic directory rename; filesystem "
            f"{fs_kind!r} does not provide it — compact on a rename-atomic "
            f"store (local/HDFS) or use a table format with snapshot "
            f"commits (Iceberg rewrite_data_files) instead"
        )
    scheme = _scheme_prefix(records_root)
    _repair_interrupted_swaps(fs, root)
    jobs = []
    for part_dir in _partition_dirs(fs, root):
        infos = _parquet_infos(fs, part_dir)
        if len(infos) < min_files:
            continue
        total = sum(sz for _, sz in infos)
        want = max(1, -(-total // (target_mb * (1 << 20))))
        if want >= len(infos):
            continue
        jobs.append((part_dir, [p for p, _ in infos], total, want))

    def rewrite(job):
        part_dir, files, total, want = job
        # read THIS partition's files only; partition values come from the
        # directory name, so writing them back is unnecessary — the swapped
        # directory keeps its category=/dt= path
        df = spark.read.parquet(*[scheme + f for f in files])
        tmp = posixpath.join(posixpath.dirname(part_dir), _TMP + posixpath.basename(part_dir))
        old = posixpath.join(posixpath.dirname(part_dir), _OLD + posixpath.basename(part_dir))
        # repartition (not coalesce): guarantees `want` output files even
        # when the scan packed all the small files into one split; the
        # in-partition sort is reapplied after the exchange
        (
            df.repartition(want)
            .sortWithinPartitions(*RECORDS_SORT)
            .write.mode("overwrite")
            .parquet(scheme + tmp)
        )
        fs.move(part_dir, old)
        fs.move(tmp, part_dir)
        fs.delete_dir(old)
        after = _parquet_infos(fs, part_dir)
        return {
            "partition": _relpath(part_dir, root),
            "files_before": len(files),
            "files_after": len(after),
            "bytes": total,
        }

    with ThreadPoolExecutor(max_workers=max_concurrency) as ex:
        stats = [f.result() for f in [ex.submit(rewrite, j) for j in jobs]]
    return sorted(stats, key=lambda s: s["partition"])


def expire_partitions(
    out_dir: str,
    older_than_days: int,
    now: str | None = None,
) -> list[str]:
    """Delete records-sink dt= partitions strictly older than
    ``now - older_than_days`` — partition-level retention as a pure
    metadata operation (no scan, no rewrite; partition pruning is what
    makes age-out free on a partitioned sink).

    ``now`` is an ISO date for deterministic tests; default = today
    (UTC).  Returns the deleted partition paths (relative to the sink).
    """
    import datetime as dt

    today = (
        dt.date.fromisoformat(now)
        if now
        else dt.datetime.now(dt.timezone.utc).date()
    )
    cutoff = today - dt.timedelta(days=older_than_days)
    records_root = posixpath.join(out_dir.rstrip("/"), "records")
    fs, root = _resolve(records_root)
    deleted = []
    for part_dir in _partition_dirs(fs, root):
        val = posixpath.basename(part_dir).split("=", 1)[1]
        try:
            day = dt.date.fromisoformat(val)
        except ValueError:
            continue  # non-date partition value: never age out silently
        if day < cutoff:
            fs.delete_dir(part_dir)
            deleted.append(_relpath(part_dir, root))
    return sorted(deleted)
