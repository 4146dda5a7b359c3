"""CLI contract tests (__main__.py ≙ reference src/main.rs / app.rs)."""

from __future__ import annotations

import os

from sqllog_analysis_spark.__main__ import main
from sqllog_analysis_spark.sources.transcripts import write_transcripts


def test_invalid_config_exits_2(tmp_path):
    rc = main(["--input", "x", "--output", str(tmp_path), "--slow-ms", "0"])
    assert rc == 2  # config validation (config.rs:298-308)


def test_missing_input_warns_returns_0(tmp_path):
    rc = main(["--input", str(tmp_path / "nope.parquet"), "--output", str(tmp_path / "o")])
    assert rc == 0  # empty input: warn and return (app.rs:110-113)


def test_cli_end_to_end_with_export(spark, tmp_path, capsys):
    inp = str(tmp_path / "t.parquet")
    out = str(tmp_path / "out")
    write_transcripts(inp, 400, seed=13)
    rc = main(["--input", inp, "--output", out, "--export", "csv"])
    assert rc == 0
    assert os.path.isdir(os.path.join(out, "records"))
    assert os.path.isdir(os.path.join(out, "export"))
    assert "turns_processed" in capsys.readouterr().out


def test_cli_digest_reports_top_shapes(spark, tmp_path, capsys):
    """--digest N appends the literal-masked workload digest (top statement
    shapes from the routed records sink) to the summary JSON; shape counts
    sum to the routed record count (every record has exactly one shape)."""
    import json

    inp = str(tmp_path / "t.parquet")
    out = str(tmp_path / "out")
    write_transcripts(inp, 400, seed=13)
    rc = main(["--input", inp, "--output", out, "--digest", "3"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    digest = summary["workload_digest"]
    assert len(digest) == 3
    shapes = [row[0] for row in digest]
    assert all("?" in s for s in shapes)  # literals masked
    # descending by n, and the masked shape groups many raw statements
    ns = [row[1] for row in digest]
    assert ns == sorted(ns, reverse=True) and ns[0] > 1


def test_cli_maintenance_flags(spark, tmp_path, capsys):
    """--compact / --retain-days run sink maintenance after the pipeline
    and report what they did in the summary JSON (a fresh single-run sink
    is already tidy → compact reports no rewrites, retention keeps all)."""
    import json

    inp = str(tmp_path / "t.parquet")
    out = str(tmp_path / "out")
    write_transcripts(inp, 400, seed=13)
    rc = main(
        ["--input", inp, "--output", out, "--compact", "--retain-days", "3650"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["compacted"] == []
    assert summary["expired_partitions"] == []
    assert os.path.isdir(os.path.join(out, "records"))


def test_cli_raw_log_dir_mode(spark, tmp_path, capsys):
    """--input-format raw: the CLI ingests a dmsql_*.log directory through
    the splittable chunk reader and runs the identical downstream graph
    (the reference CLI's native input, app.rs:105-124)."""
    import json

    from tests.test_logfiles import make_dir

    d = make_dir(tmp_path)
    out = str(tmp_path / "raw_out")
    rc = main(["--input", d, "--input-format", "raw", "--output", out])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["records_routed"] > 0
    # the junk-only file is a degenerate input → synthetic 无有效日志行 error
    assert summary["parse_errors"] >= 2  # broken header + degenerate file
    assert os.path.isdir(os.path.join(out, "records"))


def test_cli_rejects_bad_input_format(tmp_path):
    # config-file validation path: invalid input_format exits 2
    p = tmp_path / "c.toml"
    p.write_text("[pipeline]\ninput_format = \"xml\"\n")
    assert main(["--config", str(p)]) == 2


def test_cli_follow_rejects_maintenance_flags(tmp_path):
    # silently ignoring --compact/--retain-days in follow mode would let
    # the streaming sink grow unbounded while the operator believes
    # retention is active — exit 2 instead
    d = tmp_path / "in"
    d.mkdir()
    rc = main(["--input", str(d), "--output", str(tmp_path / "o"),
               "--follow", "--retain-days", "7"])
    assert rc == 2
    rc = main(["--input", str(d), "--output", str(tmp_path / "o"),
               "--follow", "--compact"])
    assert rc == 2


def test_cli_follow_transcripts_requires_directory(tmp_path):
    # transcripts streaming watches a parquet DIRECTORY; a file (or
    # missing) input is a config error, exit 2
    rc = main(["--input", "x", "--output", str(tmp_path / "o"), "--follow"])
    assert rc == 2


def test_cli_follow_transcripts_streams_with_batch_parity(spark, tmp_path, capsys):
    """--follow on a transcripts parquet directory runs the stateful
    conversation-close stream: conversations quiet for --follow-gap of
    event time land in the sinks; trailing ones stay open until later
    data arrives (and land on a resumed run that brings newer data)."""
    import datetime as dt
    import json

    import pandas as pd

    t0 = dt.datetime(2025, 9, 16, 0, 0, 0)
    hdr = "2025-09-16 00:00:00.000 (EP[1] sess:NULL thrd:1 user:u trxid:1 stmt:NULL) [SEL]: q"

    def conv(cid, ts, text):
        return pd.DataFrame(
            {
                "conv_id": cid,
                "turn_idx": pd.Series([0], dtype="int32"),
                "role": "user",
                "text": [text],
                "tool": pd.Series([None], dtype="string"),
                "ts": pd.Series([ts]).astype("datetime64[us]"),
            }
        )

    d = tmp_path / "tdir"
    d.mkdir()
    pd.concat(
        [
            conv("A", t0, hdr),
            conv("BAD", t0 + dt.timedelta(seconds=1), "   "),  # degenerate
            # pusher an hour later: advances the watermark past A/BAD's gap
            conv("P", t0 + dt.timedelta(hours=1), hdr),
        ]
    ).to_parquet(d / "b1.parquet", index=False)
    out = str(tmp_path / "tfollow_out")

    rc = main(["--input", str(d), "--output", out, "--follow",
               "--follow-gap", "5 minutes", "--follow-seconds", "2"])
    assert rc == 0
    s1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s1["mode"] == "follow"
    assert s1["records_routed"] == 1  # A closed and routed; P still open
    assert s1["parse_errors"] == 1  # BAD closed → synthetic degenerate error

    # resume with newer data: P's conversation closes on the second run
    pd.concat(
        [conv("Q", t0 + dt.timedelta(hours=2), hdr),
         conv("R", t0 + dt.timedelta(hours=3), hdr)]
    ).to_parquet(d / "b2.parquet", index=False)
    rc = main(["--input", str(d), "--output", out, "--follow",
               "--follow-gap", "5 minutes", "--follow-seconds", "2"])
    assert rc == 0
    s2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s2["records_routed"] >= 2  # A + P (Q/R may still be open)
    assert s2["parse_errors"] == s1["parse_errors"]


def test_cli_follow_streams_raw_dir_and_resumes(spark, tmp_path, capsys):
    """--follow drains the dmsql_*.log directory through the streaming
    pipeline (full routing graph, exactly-once batch sinks) and a rerun
    resumes from the checkpoint without duplicating output."""
    import json

    from tests.test_logfiles import make_dir

    d = make_dir(tmp_path)
    out = str(tmp_path / "follow_out")
    rc = main(["--input", d, "--input-format", "raw", "--output", out, "--follow"])
    assert rc == 0
    s1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s1["mode"] == "follow" and s1["records_routed"] > 0
    assert s1["parse_errors"] >= 2  # broken header + degenerate file
    assert os.path.isdir(os.path.join(out, "records_stream"))
    # error counts come from per-batch metric sidecars, not a driver walk
    # of the error sink's contents
    assert os.path.isdir(os.path.join(out, "_stream_metrics"))

    # rerun: checkpoint says everything is processed → no new batches/rows,
    # and the sidecar-summed error count is unchanged (sidecars persist)
    rc = main(["--input", d, "--input-format", "raw", "--output", out, "--follow"])
    assert rc == 0
    s2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s2["records_routed"] == s1["records_routed"]
    assert s2["batches"] == s1["batches"]
    assert s2["parse_errors"] == s1["parse_errors"]


def test_cli_follow_digest_matches_batch_digest(spark, tmp_path, capsys):
    """--follow --digest over two triggers (one file each, the second
    on a resumed run) prints the same workload_digest as batch-mode
    --digest over the same directory, and per-category latency
    percentiles as tight log2-bin upper bounds.  A session whose only
    trigger routed no record reports an empty digest."""
    import json

    d = tmp_path / "logs"
    d.mkdir()
    (d / "dmsql_junk.log").write_text("no timestamps here\n", encoding="utf-8")
    out = str(tmp_path / "follow_out")
    follow = ["--input", str(d), "--input-format", "raw", "--output", out,
              "--follow", "--digest", "10"]
    assert main(follow) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["batches"] == 1 and s["records_routed"] == 0
    assert s["workload_digest"] == [] and s["latency_percentiles"] == {}

    (d / "dmsql_a.log").write_text(
        "2025-09-21 12:00:00.000 (EP[1] sess:NULL thrd:1 user:usr trxid:1 stmt:NULL) [SEL]: select 7\n"
        "EXECTIME: 100(ms) ROWCOUNT: 1 EXEC_ID: 1.\n",
        encoding="utf-8",
    )
    assert main(follow) == 0
    capsys.readouterr()
    (d / "dmsql_b.log").write_text(
        "2025-09-21 12:00:02.000 (EP[1] sess:NULL thrd:2 user:usr trxid:2 stmt:NULL) [SEL]: select 9\n"
        "EXECTIME: 40(ms) ROWCOUNT: 1 EXEC_ID: 2.\n"
        "2025-09-21 12:00:03.000 (EP[1] sess:NULL thrd:2 user:usr trxid:3 stmt:NULL) [DEL]: delete from x where id = 5\n",
        encoding="utf-8",
    )
    assert main(follow) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["batches"] == 3 and s["records_routed"] == 3

    rc = main(["--input", str(d), "--input-format", "raw",
               "--output", str(tmp_path / "batch_out"), "--digest", "10"])
    assert rc == 0
    b = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["workload_digest"] == b["workload_digest"]
    assert len(s["workload_digest"]) == 2  # the two selects share a shape
    # chat holds the two timed records: 40 ms → bin floor(log2 41) = 5,
    # tight ub 2^6-2 = 62; 100 ms → bin 6, ub 126.  The delete is untimed.
    assert s["latency_percentiles"] == {
        "chat": {"n": 2, "q50_ub_ms": 62, "q99_ub_ms": 126}
    }


def test_dedup_cli_minhash_end_to_end(spark, tmp_path, capsys):
    """dedup_cli: pairs → clusters → deduped corpus, one JSON summary."""
    import json

    from sqllog_analysis_spark.dedup_cli import main as dedup_main

    inp = str(tmp_path / "docs.parquet")
    near = "the quick brown fox jumps over the lazy dog "
    rows = [(i, near + f"extra {i % 2}") for i in range(6)] + [
        (10, "completely unrelated text about spark shuffle exchanges"),
        (11, "another singleton document with its own words entirely"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(inp)

    out = str(tmp_path / "dd")
    rc = dedup_main(["--input", inp, "--output", out, "--method", "minhash",
                     "--bands", "8", "--n-hashes", "16", "--shingle-k", "3"])
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["docs"] == 8
    # the 6 near-identical docs collapse to one representative; the two
    # singletons pass through the anti-join untouched
    assert s["dup_clusters"] >= 1
    assert s["docs_kept"] == s["docs"] - s["removed"] <= 3
    deduped = spark.read.parquet(os.path.join(out, "deduped"))
    kept_ids = {r["doc_id"] for r in deduped.collect()}
    assert {10, 11} <= kept_ids
    assert 0 in kept_ids  # min-id representative of the near-dup cluster
    clusters = spark.read.parquet(os.path.join(out, "clusters"))
    assert clusters.filter("cluster_id = 0").count() >= 5


def test_dedup_cli_exact_and_missing_input(spark, tmp_path, capsys):
    import json

    from sqllog_analysis_spark.dedup_cli import main as dedup_main

    assert dedup_main(["--input", str(tmp_path / "nope"), "--output",
                       str(tmp_path / "o"), "--method", "exact"]) == 2

    inp = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "same text"), (2, "same  TEXT"), (3, "other")],
        "doc_id long, text string",
    ).write.parquet(inp)
    out = str(tmp_path / "dd")
    rc = dedup_main(["--input", inp, "--output", out, "--method", "exact"])
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["docs"] == 3 and s["docs_kept"] == 2 and s["removed"] == 1
    kept = {r["doc_id"] for r in
            spark.read.parquet(os.path.join(out, "deduped")).collect()}
    assert kept == {1, 3}


def test_dedup_cli_incremental_index_flow(spark, tmp_path, capsys):
    """Day-1 builds the index; day-2 dedups its increment against it
    without touching day-1 text, and --update-index folds the increment
    in for day 3."""
    import json

    from sqllog_analysis_spark.dedup_cli import main as dedup_main

    day1 = str(tmp_path / "day1.parquet")
    day2 = str(tmp_path / "day2.parquet")
    text = "a perfectly ordinary document about distributed query engines "
    spark.createDataFrame(
        [(i, text + f"v{i}") for i in range(5)], "doc_id long, text string"
    ).write.parquet(day1)
    spark.createDataFrame(
        [(100, text + "v0"),  # duplicates day-1 doc 0
         (101, "fresh unrelated content that has no earlier counterpart")],
        "doc_id long, text string",
    ).write.parquet(day2)
    idx = str(tmp_path / "mh_index")

    rc = dedup_main(["--input", day1, "--output", str(tmp_path / "o1"),
                     "--method", "minhash", "--index", idx,
                     "--shingle-k", "3", "--n-hashes", "16", "--bands", "8"])
    assert rc == 0
    assert os.path.exists(os.path.join(idx, "_params.json"))
    capsys.readouterr()

    rc = dedup_main(["--input", day2, "--output", str(tmp_path / "o2"),
                     "--method", "minhash", "--index", idx, "--update-index"])
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["docs"] == 2
    # 100 pairs with day-1's doc 0, clusters to the OLD representative,
    # and is dropped from the increment's deduped output; 101 survives
    kept = {r["doc_id"] for r in
            spark.read.parquet(os.path.join(tmp_path, "o2", "deduped")).collect()}
    assert kept == {101}
    # --update-index appended day-2's buckets (7 docs total in the index)
    assert spark.read.parquet(idx).select("doc_id").distinct().count() == 7
    # --index with a non-minhash method is a usage error
    assert dedup_main(["--input", day2, "--output", str(tmp_path / "o3"),
                       "--method", "exact", "--index", idx]) == 2


def test_dedup_cli_prev_clusters_merges_days(spark, tmp_path, capsys):
    """Day-2 clusters merge into day-1's via --prev-clusters: the merged
    clusters/ output equals a from-scratch clustering of both days'
    pairs, ready to be next day's --prev-clusters."""
    import json

    from sqllog_analysis_spark.dedup_cli import main as dedup_main

    text = "the same boilerplate paragraph that every mirror site carries "
    day1 = str(tmp_path / "day1.parquet")
    day2 = str(tmp_path / "day2.parquet")
    spark.createDataFrame(
        [(1, text + "alpha"), (2, text + "alpha"),
         (3, "unique day-one content with completely different words")],
        "doc_id long, text string",
    ).write.parquet(day1)
    spark.createDataFrame(
        [(100, text + "alpha"),  # joins the {1,2} cluster
         (101, "fresh day-two material unrelated to prior documents")],
        "doc_id long, text string",
    ).write.parquet(day2)
    idx = str(tmp_path / "idx")

    assert dedup_main(["--input", day1, "--output", str(tmp_path / "o1"),
                       "--method", "minhash", "--index", idx,
                       "--shingle-k", "3", "--n-hashes", "16", "--bands", "8"]) == 0
    capsys.readouterr()
    assert dedup_main(["--input", day2, "--output", str(tmp_path / "o2"),
                       "--method", "minhash", "--index", idx,
                       "--prev-clusters", str(tmp_path / "o1" / "clusters"),
                       "--update-index"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    merged = {
        r["doc_id"]: r["cluster_id"]
        for r in spark.read.parquet(
            os.path.join(tmp_path, "o2", "clusters")).collect()
    }
    # {1, 2, 100} are one cluster with the day-1 representative
    assert merged[1] == merged[2] == merged[100] == 1
    assert 3 not in merged and 101 not in merged  # singletons stay out
    # 100 duplicates history → dropped; 101 survives
    kept = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(tmp_path, "o2", "deduped")).collect()}
    assert kept == {101} and s["docs_kept"] == 1
    # usage guard
    assert dedup_main(["--input", day2, "--output", str(tmp_path / "o3"),
                       "--method", "exact",
                       "--prev-clusters", str(tmp_path / "o1" / "clusters")]) == 2
