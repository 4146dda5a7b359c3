"""Raw Dameng SQL-log file ingestion — the reference's native input mode.

Discovery parity with src/app.rs:82-102: non-recursive directory listing,
keep regular files whose name starts with ``dmsql_`` AND whose extension is
``.log`` case-insensitively.

SPLITTABLE, STREAMING reader: each file is cut into fixed byte-range
chunks on the driver (metadata only — no file contents touch the driver),
and each chunk becomes one Spark task that scans its range line-by-line
and emits ONE ROW PER SEGMENT (a segment starts at any line whose first 23
normalized chars form a calendar-valid timestamp — parser.rs:338-367 /
utils.rs:12-93).  Chunk-boundary handling is the classic input-split
protocol (the same contract Hadoop record readers implement):

  - a task owns the segments whose START line begins inside [start, end);
  - a segment runs past ``end`` until the next segment-start line or EOF
    (trailing junk merges into the prior record, sqllog_tests.rs:529-546);
  - a task seeking into the middle of a line skips to the next line start
    (that line's owner is the previous chunk);
  - chunk 0 additionally owns the file preamble (junk before the first
    timestamp line), which becomes its own row so the degenerate-input
    rule and the Format-error line numbers still match the reference.

So a GB file parallelizes across tasks with O(chunk) memory per task —
the Spark restatement of the reference's O(1)-memory streaming reader
(io.rs:181-199) — and no row ever holds a whole file.

Semantics note: lines containing invalid UTF-8 (→ U+FFFD on decode) are
NEVER treated as chunk/segment boundaries here; they stay inside the
current segment row, and the oracle state machine (the parse stage's slow
path) performs the reference's repair + resync + per-segment line
numbering (utils.rs:122-161) with full fidelity — including the case
where a repaired line re-syncs to an embedded timestamp and opens a new
segment mid-row.

``turn_idx`` is the segment's byte offset in the file (deterministic,
order-preserving).  TRANSCRIPT_SCHEMA pins it to int32, so single files
≥ 2 GiB are rejected with a clear error; datasets of any size are fine.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from sqllog_analysis_spark.oracle import is_first_row

# bytes-level prefilter: a boundary line (no U+FFFD involved) can only be
# '[ \t]*' + a 23-char timestamp shape.  ASCII-safe on raw bytes.
_B_TS = re.compile(rb"^[ \t]*[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}\.[0-9]{3}")

DEFAULT_CHUNK_BYTES = 32 << 20  # 32 MiB per task


def discover_sqllog_files(directory: str) -> list[str]:
    """app.rs:82-102: non-recursive, prefix ``dmsql_``, ci-extension .log."""
    if not os.path.isdir(directory):
        return []
    out = []
    for name in sorted(os.listdir(directory)):
        p = os.path.join(directory, name)
        root, ext = os.path.splitext(name)
        if os.path.isfile(p) and name.startswith("dmsql_") and ext.lower() == ".log":
            out.append(p)
    return out


def _is_boundary(line: bytes) -> bool:
    """True iff this raw line starts a new segment without UTF-8 repair:
    normalized (lstrip ' \\t', rstrip CR/LF) first 23 chars are a
    calendar-valid timestamp AND the line decodes cleanly (a line that
    needs U+FFFD repair is handled inside the segment by the oracle)."""
    if not _B_TS.match(line):
        return False
    s = line.decode("utf-8", errors="replace")
    if "�" in s:
        return False
    clean = s.lstrip(" \t").rstrip("\r\n")
    return len(clean) >= 23 and is_first_row(clean[:23])


def read_segments(path: str, start: int, end: int) -> Iterator[tuple[int, str]]:
    """Yield (byte_offset, decoded_segment_text) for every segment whose
    start line begins in [start, end); see the module docstring for the
    split protocol.  Text keeps the raw line terminators — the parse stage
    treats '\\n' as a terminator (io.rs read_until)."""
    with open(path, "rb") as f:
        yield from _segments_from(f, start, end)


def segment_bytes(data: bytes) -> Iterator[tuple[int, str]]:
    """Whole-file variant of :func:`read_segments` over in-memory bytes —
    the same boundary protocol, byte offsets included, for sources that
    deliver complete files (the streaming binaryFile reader)."""
    import io

    yield from _segments_from(io.BytesIO(data), 0, len(data))


def _segments_from(f, start: int, end: int) -> Iterator[tuple[int, str]]:
    """Split protocol over any seekable binary file object (module docstring)."""
    if start > 0:
        f.seek(start - 1)
        if f.read(1) != b"\n":
            f.readline()  # partial line: owned by the previous chunk
    pos = f.tell()
    collecting = start == 0  # chunk 0 owns the preamble
    cur: list[bytes] = []
    cur_off = 0
    while True:
        line_off = pos
        line = f.readline()
        if not line:
            break
        pos += len(line)
        if _is_boundary(line):
            if line_off >= end:
                break  # next chunk's segment
            if collecting and cur:
                yield cur_off, b"".join(cur).decode("utf-8", errors="replace")
            cur, cur_off = [line], line_off
            collecting = True
        elif collecting:
            cur.append(line)  # continuation (may run past `end`)
        elif line_off >= end:
            break  # tail of a foreign segment and out of range: done
    if collecting and cur:
        yield cur_off, b"".join(cur).decode("utf-8", errors="replace")


def read_sqllog_dir(
    spark: SparkSession, directory: str, chunk_bytes: int = DEFAULT_CHUNK_BYTES
) -> DataFrame:
    """Directory of dmsql_*.log → transcripts-shaped DataFrame
    (conv_id = file name, turn_idx = segment byte offset, one row per
    segment), parallelized by byte-range chunks."""
    from sqllog_analysis_spark.schema import TRANSCRIPT_SCHEMA

    files = discover_sqllog_files(directory)
    chunks: list[tuple[str, str, int, int, float]] = []
    for p in files:
        size = os.path.getsize(p)
        if size == 0:
            # empty files produce nothing at all — not even a degenerate-
            # input error (io.rs:104-107 early return; sqllog_tests.rs:86-94)
            continue
        if size >= 2**31:
            raise ValueError(
                f"{p} is ≥ 2 GiB; turn_idx (segment byte offset) is int32 — "
                "split the file or ingest via the transcripts table"
            )
        mtime = os.path.getmtime(p)
        for s in range(0, size, chunk_bytes):
            chunks.append((os.path.basename(p), p, s, min(s + chunk_bytes, size), mtime))
    if not chunks:
        return spark.createDataFrame([], schema=TRANSCRIPT_SCHEMA)

    # from a pandas frame the chunk table plans as a LocalTableScan; from a
    # list of tuples it would be a Scan ExistingRDD, read through Python
    # workers before the chunk exchange
    cdf = spark.createDataFrame(
        pd.DataFrame(chunks, columns=["conv_id", "path", "start", "end", "mtime"]),
        schema="conv_id string, path string, start long, end long, mtime double",
    ).repartition(len(chunks))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples(index=False):
                for off, text in read_segments(t.path, int(t.start), int(t.end)):
                    rows.append(
                        {
                            "conv_id": t.conv_id,
                            "turn_idx": off,
                            "role": "log",
                            "text": text,
                            "tool": None,
                            # MILLISECOND precision, deliberately: Spark's
                            # binaryFile streaming source reports file
                            # mtimes at ms, so the batch reader truncates
                            # to ms too — streamed and batch rows carry
                            # identical ts for the same file
                            "ts": pd.Timestamp(int(t.mtime * 1e3) * 1000, unit="us"),
                        }
                    )
            out = pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
            )
            if len(out):
                out["turn_idx"] = out["turn_idx"].astype("int32")
                out["ts"] = out["ts"].astype("datetime64[us]")
            yield out

    return cdf.mapInPandas(run, schema=TRANSCRIPT_SCHEMA)
