"""Raw dmsql_*.log file-mode parity — the graft of
tests/error_writer_integration_tests.rs:9-180 and the file-discovery rules
of src/app.rs:82-102.
"""

from __future__ import annotations

import json
import os

from sqllog_analysis_spark.oracle import NO_VALID_LINE
from sqllog_analysis_spark.plans.pipeline import build
from sqllog_analysis_spark.sources.logfiles import discover_sqllog_files, read_sqllog_dir

GOOD = (
    "2025-09-21 12:00:00.000 (EP[1] sess:NULL thrd:1 user:usr trxid:1 stmt:NULL) [SEL]: select *\n"
    "from users\n"
    "EXECTIME: 1500(ms) ROWCOUNT: 1 EXEC_ID: 123.\n"
    "2025-09-21 12:00:01.000 (EP[2] sess:0xabc thrd:2 user:usr trxid:2 stmt:NULL) [UPD]: update t\n"
)
WITH_BAD_LINE = (
    "2025-09-21 12:00:02.000 (EP[1] sess:NULL thrd:1 user:usr trxid:1 stmt:NULL) [SEL]: ok\n"
    "2025-09-21 12:00:03.000 (EP[x] broken header\n"
)


def make_dir(tmp_path):
    d = tmp_path / "logs"
    d.mkdir()
    (d / "dmsql_a.log").write_text(GOOD, encoding="utf-8")
    (d / "dmsql_b.LOG").write_text(WITH_BAD_LINE, encoding="utf-8")
    (d / "dmsql_junk_only.log").write_text("no timestamps here\n", encoding="utf-8")
    (d / "other_a.log").write_text(GOOD, encoding="utf-8")  # wrong prefix
    (d / "dmsql_c.txt").write_text(GOOD, encoding="utf-8")  # wrong extension
    return str(d)


def test_discovery_rules(tmp_path):
    d = make_dir(tmp_path)
    names = [os.path.basename(p) for p in discover_sqllog_files(d)]
    assert names == ["dmsql_a.log", "dmsql_b.LOG", "dmsql_junk_only.log"]


def test_file_mode_end_to_end(spark, tmp_path):
    d = make_dir(tmp_path)
    tdf = read_sqllog_dir(spark, d)
    g = build(spark, tdf)

    recs = g["routed"].collect()
    by_file = {}
    for r in recs:
        by_file.setdefault(r["conv_id"], []).append(r)
    assert len(by_file["dmsql_a.log"]) == 2
    assert len(by_file["dmsql_b.LOG"]) == 1
    assert "dmsql_junk_only.log" not in by_file  # degenerate file

    a = sorted(by_file["dmsql_a.log"], key=lambda r: r["rec_idx"])
    assert a[0]["description"] == "select *\nfrom users\nEXECTIME: 1500(ms) ROWCOUNT: 1 EXEC_ID: 123."
    assert a[0]["execute_time"] == 1500 and a[0]["category"] == "slow_query"
    assert a[1]["ep"] == 2
    assert a[1]["description"] == "update t"  # terminator \n, no phantom line

    errs = g["errors"].collect()
    by_path = {}
    for e in errs:
        by_path.setdefault(e["path"], []).append(e)
    # dmsql_b: the broken-header segment is a Format error, line = 2
    # (segment-relative counter quirk, parser.rs:359-367)
    assert len(by_path["dmsql_b.LOG"]) == 1
    assert by_path["dmsql_b.LOG"][0]["line"] == 2
    # junk-only file → exactly one synthetic degenerate error (io.rs:147-167)
    assert len(by_path["dmsql_junk_only.log"]) == 1
    assert by_path["dmsql_junk_only.log"][0]["raw"] == NO_VALID_LINE


def test_empty_dir_yields_empty_frame(spark, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    assert read_sqllog_dir(spark, str(d)).count() == 0


def test_empty_file_yields_nothing(spark, tmp_path):
    # empty file → no record, no error (sqllog_tests.rs:86-94)
    d = tmp_path / "logs2"
    d.mkdir()
    (d / "dmsql_empty.log").write_text("", encoding="utf-8")
    g = build(spark, read_sqllog_dir(spark, str(d)))
    assert g["routed"].count() == 0 and g["errors"].count() == 0


def _multi_segment_text(n_segments: int = 120) -> str:
    """Deterministic corpus exercising: junk preamble, multi-line segments,
    broken headers, invalid-UTF-8 repair, trailing junk, CRLF lines."""
    parts = ["junk preamble line 1\n", "  more junk\n"]
    for i in range(n_segments):
        ts = f"2025-09-21 12:{i // 60:02d}:{i % 60:02d}.000"
        if i % 7 == 3:
            parts.append(f"{ts} (EP[x] broken header {i}\n")
        elif i % 7 == 5:
            parts.append(
                f"{ts} (EP[1] sess:NULL thrd:{i} user:u trxid:{i} stmt:NULL) [SEL]: multi\r\n"
                f"PARAMS line for {i}\n"
                "EXECTIME: 42(ms) ROWCOUNT: 7.\n"
            )
        else:
            parts.append(
                f"{ts} (EP[2] sess:0xab{i:x} thrd:-1 user:SYSDBA trxid:{i} stmt:NULL) "
                f"[UPD]: update t set x = {i}\n"
            )
    parts.append("trailing junk merges into the last record\n")
    return "".join(parts)


def test_chunked_reader_matches_whole_file_parse(spark, tmp_path):
    """The splittable byte-range reader must produce, across MULTIPLE
    tasks, exactly the records and errors the oracle state machine yields
    on the whole file (multi-line stitch semantics of
    tests/sqllog_tests.rs:124-192) — including a mid-file invalid-UTF-8
    line (repair + resync, sqllog_tests.rs:674-699)."""
    from pyspark.sql import functions as F

    from sqllog_analysis_spark.plans.pipeline import parse_stage
    from sqllog_analysis_spark.schema import TRANSCRIPT_SCHEMA

    text = _multi_segment_text()
    d = tmp_path / "logs3"
    d.mkdir()
    raw = text.encode("utf-8")
    # plant an invalid-UTF-8 continuation line mid-file
    raw = raw.replace(b"PARAMS line for 12\n", b"PARAMS \xff\xfe bad utf8\n")
    (d / "dmsql_big.log").write_bytes(raw)

    tdf = read_sqllog_dir(spark, str(d), chunk_bytes=512)
    # proof of parallelism: the segment rows really come from >1 task
    n_tasks = (
        tdf.withColumn("pid", F.spark_partition_id())
        .select("pid").distinct().count()
    )
    assert n_tasks > 1
    got = parse_stage(spark, tdf).toPandas()

    import datetime as dt

    import pandas as pd

    whole = pd.DataFrame(
        [("dmsql_big.log", 0, "log", raw.decode("utf-8", errors="replace"),
          None, dt.datetime(2025, 1, 1))],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    whole["turn_idx"] = whole["turn_idx"].astype("int32")
    sdf = spark.createDataFrame(whole, schema=TRANSCRIPT_SCHEMA)
    want = parse_stage(spark, sdf).toPandas()

    from tests.conftest import norm_cell

    def rowset(df, cols):
        return sorted(
            tuple(norm_cell(v) for v in row) for row in df[cols].values.tolist()
        )

    rec_cols = ["occurrence_time", "ep", "session", "thread", "user", "trx_id",
                "statement", "appname", "ip", "sql_type", "description",
                "execute_time", "rowcount", "execute_id"]
    g_rec = got[got.error.isna() & got.occurrence_time.notna()]
    w_rec = want[want.error.isna() & want.occurrence_time.notna()]
    assert rowset(g_rec, rec_cols) == rowset(w_rec, rec_cols)
    err_cols = ["error", "error_class", "error_line", "raw"]
    assert rowset(got[got.error.notna()], err_cols) == rowset(
        want[want.error.notna()], err_cols
    )
    # per-conversation degenerate flag agrees
    assert bool(got.has_ts.max()) == bool(want.has_ts.max())


def test_chunked_reader_segment_spans_chunk_boundary(tmp_path):
    """A segment whose continuation lines cross the chunk boundary is fully
    owned by the chunk containing its START line; the next chunk skips the
    tail it doesn't own."""
    from sqllog_analysis_spark.sources.logfiles import read_segments

    seg1 = "2025-01-01 00:00:00.000 header A\n" + "x" * 100 + "\n"
    seg2 = "2025-01-01 00:00:01.000 header B\ntail line\n"
    p = tmp_path / "dmsql_span.log"
    p.write_text(seg1 + seg2, encoding="utf-8")
    cut = len(seg1) - 30  # mid-continuation-line of segment 1
    first = list(read_segments(str(p), 0, cut))
    second = list(read_segments(str(p), cut, len(seg1 + seg2)))
    assert [t for _, t in first] == [seg1]
    assert [t for _, t in second] == [seg2]
    # offsets are the true byte offsets
    assert first[0][0] == 0 and second[0][0] == len(seg1)


def test_error_sink_jsonl_shape(spark, tmp_path):
    """error_writer.rs:147-152 JSONL field parity through the real sink."""
    from sqllog_analysis_spark.sinks.writers import write_errors

    d = make_dir(tmp_path)
    g = build(spark, read_sqllog_dir(spark, d))
    err_dir = str(tmp_path / "parse_errors")
    n = write_errors(g["errors"], err_dir)
    lines = []
    for fn in os.listdir(err_dir):
        if fn.endswith(".json"):
            with open(os.path.join(err_dir, fn)) as f:
                lines += [json.loads(line) for line in f if line.strip()]
    assert lines and all(set(o) <= {"path", "line", "error", "raw"} for o in lines)
    assert n == len(lines)  # the observed count is the rows written
