"""Follow mode: the batch parse + route graph under readStream (batch
parity checked against the batch pipeline)."""

from __future__ import annotations

import pytest


@pytest.mark.slow
def test_stream_sqllog_pipeline_full_batch_parity(spark, tmp_path):
    """Raw-log streaming with the COMPLETE routing graph (degenerate rule +
    error sink + contract split) per micro-batch: conv_id = file and files
    arrive whole, so the streamed records AND errors must equal the batch
    pipeline's over the same directory — including a degenerate file that
    yields only the synthetic 无有效日志行 error row.  A file that fails
    the dmsql_*.log discovery filter is not ingested, and a restart from
    the same checkpoint with no new files adds no rows (exactly-once
    ``ingest_batch=`` sinks)."""
    from sqllog_analysis_spark.oracle import NO_VALID_LINE
    from sqllog_analysis_spark.plans.pipeline import build
    from sqllog_analysis_spark.sources.logfiles import read_sqllog_dir
    from sqllog_analysis_spark.streaming.stream_pipeline import stream_sqllog_pipeline

    good = (
        "2025-09-21 12:00:00.000 (EP[1] sess:NULL thrd:1 user:usr trxid:1 stmt:NULL) [SEL]: select *\n"
        "EXECTIME: 1500(ms) ROWCOUNT: 1 EXEC_ID: 123.\n"
    )
    bad = (
        "2025-09-21 12:00:02.000 (EP[1] sess:NULL thrd:1 user:usr trxid:1 stmt:NULL) [SEL]: ok\n"
        "2025-09-21 12:00:03.000 (EP[x] broken header\n"
    )
    d = tmp_path / "rawstream"
    d.mkdir()
    (d / "dmsql_a.log").write_text(good, encoding="utf-8")
    (d / "dmsql_junk.log").write_text("no timestamps at all\n", encoding="utf-8")
    (d / "ignored.txt").write_text(good, encoding="utf-8")  # wrong prefix/ext
    out = str(tmp_path / "spout")
    ckpt = str(tmp_path / "spckpt")

    q = stream_sqllog_pipeline(spark, str(d), out, ckpt).start()
    q.processAllAvailable()
    (d / "dmsql_b.LOG").write_text(bad, encoding="utf-8")  # mid-stream append
    q.processAllAvailable()
    q.stop()

    def sinks():
        rec = spark.read.parquet(out + "/records_stream")
        err = spark.read.json(out + "/errors_stream")
        return (
            sorted(map(tuple, rec.select("conv_id", "turn_idx", "rec_idx", "category", "ts").collect())),
            sorted(map(tuple, err.select("path", "line", "error", "raw").collect())),
        )

    got_rec, got_err = sinks()

    g = build(spark, read_sqllog_dir(spark, str(d)))
    # ts included: mtime-derived timestamp (and so dt= partition) parity
    want_rec = sorted(
        map(tuple, g["routed"].select("conv_id", "turn_idx", "rec_idx", "category", "ts").collect())
    )
    want_err = sorted(
        map(tuple, g["errors"].select("path", "line", "error", "raw").collect())
    )
    assert got_rec == want_rec and len(got_rec) > 0
    assert got_err == want_err
    assert any(r[3] == NO_VALID_LINE for r in got_err)  # degenerate file routed
    assert "ignored.txt" not in {r[0] for r in got_rec} | {r[0] for r in got_err}

    # restart from the same checkpoint with no new files: nothing is added
    q = stream_sqllog_pipeline(spark, str(d), out, ckpt).start()
    q.processAllAvailable()
    q.stop()
    assert sinks() == (got_rec, got_err)


@pytest.mark.slow
def test_stream_digest_matches_batch_digest(spark, tmp_path):
    """The streaming workload digest (sql_shape_digest over records_stream,
    the sink every micro-batch appends an ingest_batch=* directory to)
    equals sql_shape_digest over the batch graph's routed records —
    across MULTIPLE micro-batches."""
    from sqllog_analysis_spark.operators.loganalytics import (
        latency_percentiles,
        sql_shape_digest,
    )
    from sqllog_analysis_spark.sources.logfiles import read_sqllog_dir
    from sqllog_analysis_spark.plans.pipeline import build
    from sqllog_analysis_spark.streaming.stream_pipeline import stream_sqllog_pipeline

    a = (
        "2025-09-21 12:00:00.000 (EP[1] sess:NULL thrd:1 user:usr trxid:1 stmt:NULL) [SEL]: select 7\n"
        "EXECTIME: 100(ms) ROWCOUNT: 1 EXEC_ID: 1.\n"
    )
    b = (
        "2025-09-21 12:00:02.000 (EP[1] sess:NULL thrd:2 user:usr trxid:2 stmt:NULL) [SEL]: select 9\n"
        "EXECTIME: 40(ms) ROWCOUNT: 1 EXEC_ID: 2.\n"
        "2025-09-21 12:00:03.000 (EP[1] sess:NULL thrd:2 user:usr trxid:3 stmt:NULL) [DEL]: delete from x where id = 5\n"
    )
    d = tmp_path / "digraw"
    d.mkdir()
    (d / "dmsql_a.log").write_text(a, encoding="utf-8")
    out = str(tmp_path / "digout")
    q = stream_sqllog_pipeline(spark, str(d), out, str(tmp_path / "digckpt")).start()
    q.processAllAvailable()
    (d / "dmsql_b.log").write_text(b, encoding="utf-8")  # second micro-batch
    q.processAllAvailable()
    q.stop()

    records = spark.read.parquet(out + "/records_stream")
    got = sorted(
        map(tuple, sql_shape_digest(records).collect())
    )
    g = build(spark, read_sqllog_dir(spark, str(d)))
    want = sorted(map(tuple, sql_shape_digest(g["routed"]).collect()))
    assert got == want and len(got) >= 2
    # the two select shapes merged into ONE row across batches
    sel = [r for r in got if r[0] == "select ? exectime: ?(ms) rowcount: ? exec_id: ?."]
    assert sel and sel[0][1] == 2 and sel[0][3] == 140

    # latency histograms across batches: per-category percentile upper
    # bound brackets the exact percentile within its log2 bin — here all
    # timed records are 'chat' (40ms, 100ms)
    lat = {r["category"]: r for r in latency_percentiles(records).collect()}
    chat = lat["chat"]
    assert chat["n"] == 2
    # p50 = 40ms → bin floor(log2 41) = 5 holds [31, 62] → tight ub 62
    assert chat["q50_ub_ms"] == 62
    # p99 = 100ms → bin floor(log2 101) = 6 holds [63, 126] → tight ub 126
    assert chat["q99_ub_ms"] == 126
    for r in lat.values():  # bound property: ub ≥ the exact max it covers
        assert r["q99_ub_ms"] >= r["q50_ub_ms"]


def test_latency_percentiles_math_and_fractional_names(spark):
    """Percentile selection over log2 bins: the reported value is the
    TIGHT upper bound 2^(b+1)-2 of the first bin whose cumulative count
    reaches q·total, and fractional quantiles get distinct column names
    (0.999 → q99_9_ub_ms, not a second q99)."""
    import pandas as pd

    from sqllog_analysis_spark.operators.loganalytics import latency_percentiles

    # 100 records: 90 in bin 3 ([7,14]ms), 9 in bin 6 ([63,126]), 1 in
    # bin 10 ([1023,2046]); untimed records count in no bin
    records = pd.DataFrame(
        {
            "category": ["chat"] * 102,
            "execute_time": pd.Series(
                [10] * 90 + [100] * 9 + [1500] + [None] * 2, dtype="Int64"
            ),
        }
    )
    row = latency_percentiles(
        spark.createDataFrame(records, "category string, execute_time bigint"),
        quantiles=(0.5, 0.99, 0.999),
    ).collect()[0]
    assert row["n"] == 100
    assert row["q50_ub_ms"] == 2**4 - 2      # bin 3 covers p50
    assert row["q99_ub_ms"] == 2**7 - 2      # bins 3+6 reach 99
    assert row["q99_9_ub_ms"] == 2**11 - 2   # needs the bin-10 record


@pytest.mark.slow
def test_stream_transcript_pipeline_degenerate_split_across_batches(spark, tmp_path):
    """Transcripts-mode streaming with FULL batch parity: a degenerate
    conversation (no valid timestamp line in any turn) split across TWO
    micro-batches must yield exactly the batch pipeline's error rows —
    one synthetic 无有效日志行 row, not one per batch, and none of its
    Format errors — and identical per-category sink counts for the
    closed conversations."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql import functions as F

    from sqllog_analysis_spark.oracle import NO_VALID_LINE
    from sqllog_analysis_spark.plans.pipeline import build
    from sqllog_analysis_spark.schema import TRANSCRIPT_SCHEMA
    from sqllog_analysis_spark.streaming.stream_pipeline import (
        stream_transcript_pipeline,
    )

    t0 = dt.datetime(2025, 9, 16, 0, 0, 0)
    hdr = "2025-09-16 00:00:00.000 (EP[1] sess:NULL thrd:1 user:u trxid:1 stmt:NULL) [SEL]: q"

    def rows(conv, ts_list, texts, start_idx=0):
        return pd.DataFrame(
            {
                "conv_id": conv,
                "turn_idx": pd.Series(
                    range(start_idx, start_idx + len(ts_list)), dtype="int32"
                ),
                "role": "user",
                "text": texts,
                "tool": pd.Series([None] * len(ts_list), dtype="string"),
                "ts": pd.Series(ts_list).astype("datetime64[us]"),
            }
        )

    # conv D is degenerate and SPLIT across the two files/micro-batches;
    # A and B are normal single-turn conversations
    b1 = pd.concat(
        [
            rows("D", [t0], ["junk line one"]),
            rows("A", [t0 + dt.timedelta(seconds=5)], [hdr]),
        ]
    )
    b2 = pd.concat(
        [
            rows("D", [t0 + dt.timedelta(seconds=10)], ["junk line two"], start_idx=1),
            rows("B", [t0 + dt.timedelta(seconds=15)], [hdr]),
        ]
    )
    d = tmp_path / "tstream_in"
    d.mkdir()
    out = str(tmp_path / "tstream_out")
    ckpt = str(tmp_path / "tstream_ckpt")

    q = stream_transcript_pipeline(
        spark, str(d), out, ckpt, gap="5 minutes", watermark="10 seconds"
    ).start()
    try:
        b1.to_parquet(d / "b1.parquet", index=False)
        q.processAllAvailable()
        b2.to_parquet(d / "b2.parquet", index=False)
        q.processAllAvailable()
        # watermark pushers one hour later: first advances the watermark
        # past A/B/D's gap, second fires their event-time timeouts
        rows("P1", [t0 + dt.timedelta(hours=1)], [hdr]).to_parquet(
            d / "b3.parquet", index=False
        )
        q.processAllAvailable()
        rows("P2", [t0 + dt.timedelta(hours=1, seconds=1)], [hdr]).to_parquet(
            d / "b4.parquet", index=False
        )
        q.processAllAvailable()
    finally:
        q.stop()

    convs = {"A", "B", "D"}
    got_err = sorted(
        map(tuple, spark.read.json(out + "/errors_stream")
            .filter(F.col("path").isin(*convs))
            .select("path", "line", "error", "raw").collect())
    )
    got_counts = {
        r["category"]: r["n"]
        for r in spark.read.parquet(out + "/records_stream")
        .filter(F.col("conv_id").isin(*convs))
        .groupBy("category").agg(F.count("*").alias("n")).collect()
    }

    # batch reference over the SAME union of A/B/D rows
    union = pd.concat([b1, b2], ignore_index=True)
    g = build(spark, spark.createDataFrame(union, schema=TRANSCRIPT_SCHEMA))
    want_err = sorted(
        map(tuple, g["errors"].select("path", "line", "error", "raw").collect())
    )
    want_counts = {
        r["category"]: r["n"]
        for r in g["routed"].groupBy("category").agg(F.count("*").alias("n")).collect()
    }
    assert got_err == want_err
    assert got_counts == want_counts and sum(got_counts.values()) == 2  # A + B
    # exactly ONE synthetic degenerate row for D, despite the batch split
    assert [e for e in got_err if e[3] == NO_VALID_LINE] == [
        ("D", 0, f"未知错误: {NO_VALID_LINE}", NO_VALID_LINE)
    ]


@pytest.mark.slow
def test_stream_transcript_pipeline_rejects_duplicate_turn_across_files(spark, tmp_path):
    """A conversation's turn key that arrives twice, in two files, must
    fail loudly.  With 2-row Arrow batches the released turns [0, 1, 2, 0]
    parse as [0, 1] | [2, 0]: no batch holds both copies and no batch
    boundary puts them next to each other, so only the conversation
    buffer, which holds the whole turn list, can see the duplicate."""
    import datetime as dt

    import pandas as pd

    from sqllog_analysis_spark.streaming.stream_pipeline import (
        stream_transcript_pipeline,
    )

    t0 = dt.datetime(2025, 9, 16, 0, 0, 0)
    hdr = "2025-09-16 00:00:00.000 (EP[1] sess:NULL thrd:1 user:u trxid:1 stmt:NULL) [SEL]: q"

    def rows(conv, turns, ts_list):
        return pd.DataFrame(
            {
                "conv_id": conv,
                "turn_idx": pd.Series(turns, dtype="int32"),
                "role": "user",
                "text": hdr,
                "tool": pd.Series([None] * len(turns), dtype="string"),
                "ts": pd.Series(ts_list).astype("datetime64[us]"),
            }
        )

    sec = dt.timedelta(seconds=1)
    d = tmp_path / "dup_in"
    d.mkdir()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    q = stream_transcript_pipeline(
        spark, str(d), str(tmp_path / "dup_out"), str(tmp_path / "dup_ckpt"),
        gap="5 minutes", watermark="10 seconds",
    ).start()
    try:
        rows("D", [0, 1, 2], [t0, t0 + sec, t0 + 2 * sec]).to_parquet(
            d / "b1.parquet", index=False
        )
        q.processAllAvailable()
        with pytest.raises(Exception, match="duplicate turn key"):
            rows("D", [0], [t0]).to_parquet(d / "b2.parquet", index=False)
            q.processAllAvailable()
            # watermark pushers: release D if the copy was not caught yet
            for i, name in enumerate(("P1", "P2")):
                rows(name, [0], [t0 + dt.timedelta(hours=1) + i * sec]).to_parquet(
                    d / f"b{3 + i}.parquet", index=False
                )
                q.processAllAvailable()
    finally:
        q.stop()
        spark.conf.set(key, old)


@pytest.mark.slow
def test_stream_trigger_bounds_files_per_sink_directory(spark, tmp_path):
    """A raw-log trigger whose micro-batch parses in more than 4 tasks
    (16 files, read one per partition under a 1 KB split size) writes its
    ``ingest_batch=`` records through the batch records writer: at most
    files_per_partition (4) files per category=/dt= directory, where
    writing straight from the parse partitions gives one file per parse
    task per directory.  The rows equal the batch graph's."""
    import glob
    import os
    from collections import Counter

    from sqllog_analysis_spark.plans.pipeline import build
    from sqllog_analysis_spark.sources.logfiles import read_sqllog_dir
    from sqllog_analysis_spark.streaming.stream_pipeline import stream_sqllog_pipeline

    def rec(sec, desc, exec_ms):
        return (
            f"2025-09-21 12:00:{sec:02d}.000 (EP[1] sess:NULL thrd:{sec} user:usr "
            f"trxid:{sec} stmt:NULL) [SEL]: {desc}\n"
            f"EXECTIME: {exec_ms}(ms) ROWCOUNT: 1 EXEC_ID: {sec}.\n"
        )

    # every file holds every category, all on the same dt (the file mtime)
    text = (
        rec(1, "select 1", 5)
        + rec(2, "select 2", 1500)
        + rec(3, "ERR[-7001] bad", 5)
        + rec(4, "TOOL_CALL: lookup(1)", 5)
    )
    d = tmp_path / "fanin"
    d.mkdir()
    n_files = 16
    for i in range(n_files):
        (d / f"dmsql_{i}.log").write_text(text, encoding="utf-8")
    out = str(tmp_path / "fanout")

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    q = stream_sqllog_pipeline(spark, str(d), out, str(tmp_path / "fanckpt")).start()
    try:
        q.processAllAvailable()
        tracker = spark.sparkContext.statusTracker()
        tasks = [
            tracker.getStageInfo(s).numTasks
            for j in tracker.getJobIdsForGroup(str(q.runId))
            for s in tracker.getJobInfo(j).stageIds
            if tracker.getStageInfo(s) is not None
        ]
    finally:
        q.stop()
        spark.conf.set(key, old)
    assert n_files in tasks  # the parse ran in one task per file

    batches = glob.glob(os.path.join(out, "records_stream", "ingest_batch=*"))
    assert len(batches) == 1
    files = glob.glob(os.path.join(batches[0], "category=*", "dt=*", "*.parquet"))
    per_dir = Counter(os.path.dirname(f) for f in files)
    assert len(per_dir) == 4  # one dt, four categories
    assert max(per_dir.values()) <= 4, per_dir.most_common(3)

    cols = ["conv_id", "turn_idx", "rec_idx", "category", "ts"]
    got = sorted(map(tuple, spark.read.parquet(batches[0]).select(cols).collect()))
    g = build(spark, read_sqllog_dir(spark, str(d)))
    want = sorted(map(tuple, g["routed"].select(cols).collect()))
    assert got == want and len(got) == 4 * n_files
