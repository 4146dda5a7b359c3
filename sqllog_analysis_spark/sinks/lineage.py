"""Post-write lineage from file metadata — no recompute, no data scan.

The manifest records per-stage, per-file row counts.  Round 1 (and early
round 2) computed these by re-running the stage's DataFrame through a
``groupBy(spark_partition_id())`` after the write — a full extra job per
stage.  Parquet already stores the row count of every file in its footer,
so lineage of what was ACTUALLY written is a metadata read: O(#files)
footer fetches, zero executor work.  (This is also the more trustworthy
number: it describes the committed output, not a recompute that could
theoretically diverge.)

Round-3 scale fixes:
  - footer reads go through a thread pool (they are I/O-bound; pyarrow
    releases the GIL) — a 100 TB sink has 10^4-10^6 files, and a serial
    driver-side walk is an Amdahl tail that flattens scaling efficiency;
  - paths resolve through ``pyarrow.fs`` so non-local URIs (s3://,
    hdfs:// via fsspec-compatible handlers) use the same code path as
    local dirs instead of silently returning nothing.

JSONL sinks have no footer; their lineage records file sizes, and the row
count comes from a ``df.observe()`` counter attached to the write job —
again zero extra jobs.
"""

from __future__ import annotations

import os
import posixpath
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
from pyarrow import fs as pafs

_FOOTER_THREADS = 16


def _resolve(path: str) -> tuple[pafs.FileSystem, str]:
    """Filesystem + fs-native path for a local path or URI."""
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), os.path.abspath(path)


def _list_files(fs: pafs.FileSystem, root: str, suffix: str, recursive: bool) -> list[str]:
    info = fs.get_file_info(root)
    if info.type == pafs.FileType.NotFound:
        return []
    if info.type == pafs.FileType.File:
        return [root]
    sel = pafs.FileSelector(root, recursive=recursive, allow_not_found=True)
    return sorted(
        i.path
        for i in fs.get_file_info(sel)
        if i.type == pafs.FileType.File and i.path.endswith(suffix)
    )


def _relpath(fp: str, root: str) -> str:
    root = root.rstrip("/")
    return fp[len(root) + 1 :] if fp.startswith(root + "/") else posixpath.basename(fp)


def parquet_lineage(path: str) -> list[dict]:
    """Per-file {file, row_count} from parquet footers (recursive); accepts
    a dataset directory or a single parquet file, local path or URI.
    Footers are fetched concurrently — wall time is I/O-bound, not O(files)
    sequential (tests/test_pipeline.py pins this on a many-file dataset)."""
    fs, root = _resolve(path)
    files = _list_files(fs, root, ".parquet", recursive=True)
    if not files:
        return []

    def footer(fp: str) -> dict:
        return {
            "file": _relpath(fp, root),
            "row_count": pq.read_metadata(fp, filesystem=fs).num_rows,
        }

    with ThreadPoolExecutor(min(_FOOTER_THREADS, len(files))) as ex:
        return list(ex.map(footer, files))


def read_parquet_table(path: str):
    """Driver-side read of a SMALL parquet output (e.g. the 4-row
    sink_counts) through the same fs abstraction — works for local paths
    and URIs alike, no Spark job."""
    fs, root = _resolve(path)
    files = _list_files(fs, root, ".parquet", recursive=True)
    import pyarrow.dataset as ds

    return ds.dataset(files, filesystem=fs).to_table()


def write_parquet_table(table, path: str) -> None:
    """Driver-side write of a SMALL table (e.g. sink_counts) as the one
    parquet file of directory ``path``, replacing what it held — the
    write-side twin of :func:`read_parquet_table`, no Spark job."""
    fs, root = _resolve(path)
    fs.create_dir(root)
    fs.delete_dir_contents(root)
    pq.write_table(table, f"{root}/part-00000.parquet", filesystem=fs)


def path_exists(path: str) -> bool:
    fs, p = _resolve(path)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def jsonl_lineage(path: str) -> list[dict]:
    """Per-file {file, bytes} for JSONL sinks (no footers; the stage row
    count comes from the write job's observe() counter)."""
    fs, root = _resolve(path)
    return [
        {"file": _relpath(fp, root), "bytes": fs.get_file_info(fp).size}
        for fp in _list_files(fs, root, ".json", recursive=False)
    ]
