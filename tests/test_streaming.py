"""Structured Streaming variant: same parse + route semantics under
readStream (batch parity checked against the batch pipeline)."""

from __future__ import annotations

import pytest

from sqllog_analysis_spark.sources.transcripts import write_transcripts
from sqllog_analysis_spark.streaming.stream_pipeline import run_stream_to_memory


@pytest.mark.slow
def test_stream_counts_match_batch(spark, tmp_path):
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sqllog_analysis_spark.functions.parse import parse_transcripts
    from sqllog_analysis_spark.operators.routing import route_records
    from sqllog_analysis_spark.schema import TRANSCRIPT_SCHEMA

    d = tmp_path / "stream_in"
    d.mkdir()
    write_transcripts(str(d / "part0.parquet"), 600, seed=9)

    out = run_stream_to_memory(spark, str(d), query_name="t_stream")
    got = {
        r["category"]: r["n"]
        for r in out.groupBy("category").agg(F.sum("n").alias("n")).collect()
    }

    # streaming variant has no conversation-level degenerate pass (needs
    # global state); compare against the pre-degenerate batch routed set
    pdf = pq.read_table(str(d / "part0.parquet")).to_pandas()
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    routed = route_records(parse_transcripts(sdf))
    want = {
        r["category"]: r["n"]
        for r in routed.groupBy("category").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


@pytest.mark.slow
def test_stateful_conv_sessions_close_on_event_time_gap(spark, tmp_path):
    """applyInPandasWithState sessionizer: a conversation emits exactly one
    summary row once event time moves past its last activity + gap, with
    counts matching a batch aggregation of the same data."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql import functions as F

    from sqllog_analysis_spark.functions.parse import parse_transcripts
    from sqllog_analysis_spark.schema import TRANSCRIPT_SCHEMA
    from sqllog_analysis_spark.streaming.stream_pipeline import (
        streaming_conv_sessions,
    )

    d = tmp_path / "sess_in"
    d.mkdir()
    t0 = dt.datetime(2025, 9, 16, 0, 0, 0)
    hdr = "2025-09-16 00:00:00.000 (EP[1] sess:NULL thrd:1 user:u trxid:1 stmt:NULL) [SEL]: q"

    def rows(conv, ts_list, texts):
        return pd.DataFrame(
            {
                "conv_id": conv,
                "turn_idx": pd.Series(range(len(ts_list)), dtype="int32"),
                "role": "user",
                "text": texts,
                "tool": pd.Series([None] * len(ts_list), dtype="string"),
                "ts": pd.Series(ts_list).astype("datetime64[us]"),
            }
        )

    # batch 1: convs A (2 turns: 1 record + 1 parse error) and B (1 record)
    b1 = pd.concat(
        [
            rows("A", [t0, t0 + dt.timedelta(seconds=30)], [hdr, "not a log line"]),
            rows("B", [t0 + dt.timedelta(seconds=60)], [hdr]),
        ]
    )
    b1.to_parquet(d / "b1.parquet", index=False)

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    sessions = streaming_conv_sessions(
        parse_transcripts(stream), gap="5 minutes", watermark="10 seconds"
    )
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sessions")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM t_sessions").count() == 0  # nothing closed

        # batch 2: conv C one hour later → watermark passes A/B's gap
        rows("C", [t0 + dt.timedelta(hours=1)], [hdr]).to_parquet(
            d / "b2.parquet", index=False
        )
        q.processAllAvailable()
        # one more batch so the timeout fires against the advanced watermark
        rows("C2", [t0 + dt.timedelta(hours=1, seconds=1)], [hdr]).to_parquet(
            d / "b3.parquet", index=False
        )
        q.processAllAvailable()

        out = {r["conv_id"]: r for r in spark.sql("SELECT * FROM t_sessions").collect()}
        assert set(out) >= {"A", "B"}, out.keys()
        a = out["A"]
        assert a["n_turns"] == 2 and a["n_records"] == 1 and a["n_errors"] == 1
        assert a["duration_sec"] == 30.0
        b = out["B"]
        assert b["n_turns"] == 1 and b["n_records"] == 1 and b["n_errors"] == 0
    finally:
        q.stop()


@pytest.mark.slow
def test_stream_to_category_sinks_exactly_once(spark, tmp_path):
    """foreachBatch sink: per-batch overwrite directories give exactly-once
    delivery — row set equals the batch pipeline's routed set, and a
    restart from the same checkpoint with no new data adds nothing."""
    from pyspark.sql import functions as F

    from sqllog_analysis_spark.functions.parse import parse_transcripts
    from sqllog_analysis_spark.operators.routing import route_records
    from sqllog_analysis_spark.schema import TRANSCRIPT_SCHEMA
    from sqllog_analysis_spark.streaming.stream_pipeline import (
        stream_to_category_sinks,
        streaming_routed,
    )

    d = tmp_path / "sink_in"
    d.mkdir()
    write_transcripts(str(d / "p0.parquet"), 300, seed=17)
    write_transcripts(str(d / "p1.parquet"), 300, seed=18)
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", 1)  # force one micro-batch per file
            .parquet(str(d))
        )
        q = stream_to_category_sinks(
            streaming_routed(stream.repartition(4)), out, ckpt
        ).start()
        q.processAllAvailable()
        q.stop()

    run_once()
    got = spark.read.parquet(out + "/records_stream")
    key = ["conv_id", "turn_idx", "rec_idx"]
    got_keys = sorted(map(tuple, got.select(*key).collect()))

    # batch reference: same parse+route over the same files
    batch = route_records(
        parse_transcripts(spark.read.schema(TRANSCRIPT_SCHEMA).parquet(str(d)))
    )
    want_keys = sorted(map(tuple, batch.select(*key).collect()))
    assert got_keys == want_keys
    assert got.select("ingest_batch").distinct().count() >= 2  # multi-batch

    # restart from the same checkpoint: nothing new → no duplicates
    run_once()
    assert (
        sorted(map(tuple, spark.read.parquet(out + "/records_stream").select(*key).collect()))
        == want_keys
    )


@pytest.mark.slow
def test_streaming_raw_log_ingestion_matches_batch(spark, tmp_path):
    """Streaming dmsql_*.log mode (readStream binaryFile → segment_bytes →
    parse → route): a second .log file appended MID-STREAM is picked up,
    and the routed rows over both files equal the batch pipeline's on the
    union directory."""
    from pyspark.sql import functions as F

    from sqllog_analysis_spark.functions.parse import parse_transcripts
    from sqllog_analysis_spark.operators.routing import route_records
    from sqllog_analysis_spark.sources.logfiles import read_sqllog_dir
    from sqllog_analysis_spark.streaming.stream_pipeline import (
        read_sqllog_stream,
        streaming_routed,
    )

    good = (
        "2025-09-21 12:00:00.000 (EP[1] sess:NULL thrd:1 user:usr trxid:1 stmt:NULL) [SEL]: select *\n"
        "from users\n"
        "EXECTIME: 1500(ms) ROWCOUNT: 1 EXEC_ID: 123.\n"
        "2025-09-21 12:00:01.000 (EP[2] sess:0xabc thrd:2 user:usr trxid:2 stmt:NULL) [UPD]: update t\n"
    )
    second = (
        "2025-09-21 12:00:02.000 (EP[1] sess:NULL thrd:1 user:usr trxid:1 stmt:NULL) [SEL]: ok\n"
        "TOOL_CALL: lookup(x)\n"
    )
    d = tmp_path / "rawlogs"
    d.mkdir()
    (d / "dmsql_a.log").write_text(good, encoding="utf-8")
    (d / "ignored.txt").write_text(good, encoding="utf-8")  # wrong prefix/ext

    q = (
        streaming_routed(read_sqllog_stream(spark, str(d)))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("raw_stream")
        .start()
    )
    q.processAllAvailable()
    mid = spark.sql("SELECT COUNT(*) AS n FROM raw_stream").collect()[0]["n"]
    assert mid > 0  # first file already routed

    # second file lands while the stream is running
    (d / "dmsql_b.LOG").write_text(second, encoding="utf-8")
    q.processAllAvailable()
    q.stop()

    # ts in the key pins the mtime-derived timestamp parity (binaryFile's
    # modificationTime vs the batch reader's os.stat, both ms-truncated)
    # and hence dt= sink-partition parity, not just row-set parity
    key = ["conv_id", "turn_idx", "rec_idx", "category", "ts"]
    got = sorted(map(tuple, spark.table("raw_stream").select(*key).collect()))
    batch = route_records(parse_transcripts(read_sqllog_dir(spark, str(d))))
    want = sorted(map(tuple, batch.select(*key).collect()))
    assert got == want and len(got) > len(
        sorted(map(tuple, spark.table("raw_stream").limit(mid).collect()))
    ) - 1


@pytest.mark.slow
def test_stream_sqllog_pipeline_full_batch_parity(spark, tmp_path):
    """Raw-log streaming with the COMPLETE routing graph (degenerate rule +
    error sink + contract split) per micro-batch: conv_id = file and files
    arrive whole, so the streamed records AND errors must equal the batch
    pipeline's over the same directory — including a degenerate file that
    yields only the synthetic 无有效日志行 error row."""
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
    out = str(tmp_path / "spout")
    ckpt = str(tmp_path / "spckpt")

    q = stream_sqllog_pipeline(spark, str(d), out, ckpt).start()
    q.processAllAvailable()
    (d / "dmsql_b.LOG").write_text(bad, encoding="utf-8")  # mid-stream append
    q.processAllAvailable()
    q.stop()

    got_rec = sorted(
        map(tuple, spark.read.parquet(out + "/records_stream")
            .select("conv_id", "turn_idx", "rec_idx", "category", "ts").collect())
    )
    got_err = sorted(
        map(tuple, spark.read.json(out + "/errors_stream")
            .select("path", "line", "error", "raw").collect())
    )

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


@pytest.mark.slow
def test_stream_digest_matches_batch_digest(spark, tmp_path):
    """The streaming workload digest (per-batch algebraic partials under
    digest_stream/ingest_batch=*, folded at read) equals sql_shape_digest
    over all routed records at once — across MULTIPLE micro-batches."""
    from sqllog_analysis_spark.operators.loganalytics import sql_shape_digest
    from sqllog_analysis_spark.sources.logfiles import read_sqllog_dir
    from sqllog_analysis_spark.plans.pipeline import build
    from sqllog_analysis_spark.streaming.stream_pipeline import (
        read_stream_digest,
        stream_sqllog_pipeline,
    )

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

    got = sorted(
        map(tuple, read_stream_digest(spark, out).collect())
    )
    g = build(spark, read_sqllog_dir(spark, str(d)))
    want = sorted(map(tuple, sql_shape_digest(g["routed"]).collect()))
    assert got == want and len(got) >= 2
    # the two select shapes merged into ONE row across batches
    sel = [r for r in got if r[0] == "select ? exectime: ?(ms) rowcount: ? exec_id: ?."]
    assert sel and sel[0][1] == 2 and sel[0][3] == 140

    # latency-histogram partials folded across batches: per-category
    # percentile upper bound brackets the exact percentile within its
    # log2 bin — here all timed records are 'chat' (40ms, 100ms)
    from sqllog_analysis_spark.streaming.stream_pipeline import read_stream_latency

    lat = {r["category"]: r for r in read_stream_latency(spark, out).collect()}
    chat = lat["chat"]
    assert chat["n"] == 2
    # p50 = 40ms → bin floor(log2 41) = 5 holds [31, 62] → tight ub 62
    assert chat["q50_ub_ms"] == 62
    # p99 = 100ms → bin floor(log2 101) = 6 holds [63, 126] → tight ub 126
    assert chat["q99_ub_ms"] == 126
    for r in lat.values():  # bound property: ub ≥ the exact max it covers
        assert r["q99_ub_ms"] >= r["q50_ub_ms"]


def test_read_stream_latency_math_and_fractional_names(spark, tmp_path):
    """Percentile selection over a hand-built histogram: the reported
    value is the TIGHT upper bound 2^(b+1)-2 of the first bin whose
    cumulative count reaches q·total, and fractional quantiles get
    distinct column names (0.999 → q99_9_ub_ms, not a second q99)."""
    import pandas as pd

    from sqllog_analysis_spark.streaming.stream_pipeline import read_stream_latency

    out = str(tmp_path / "o")
    # 100 records: 90 in bin 3 ([7,14]ms), 9 in bin 6 ([63,126]), 1 in bin 10
    hist = pd.DataFrame(
        {"category": ["chat"] * 3, "bin": [3, 6, 10], "n": [90, 9, 1]}
    )
    spark.createDataFrame(hist).write.parquet(
        out + "/latency_hist_stream/ingest_batch=0"
    )
    row = read_stream_latency(
        spark, out, quantiles=(0.5, 0.99, 0.999)
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
