"""End-to-end pipeline tests: routing equality vs oracle, per-sink
aggregate counts, degenerate-conversation rule, enrich, manifest resume
idempotency (the reference CLI's analysis-summary checks generalized,
tests/error_writer_integration_tests.rs:9-180).
"""

from __future__ import annotations

import json
import os
import re

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sqllog_analysis_spark import oracle
from sqllog_analysis_spark.plans.pipeline import PipelineConfig, build, run_pipeline
from sqllog_analysis_spark.schema import TRANSCRIPT_SCHEMA
from sqllog_analysis_spark.sources.transcripts import generate_transcripts, write_transcripts

ERR_CODE = re.compile(r"ERR\[(-?\d+)\]")
TOOL_CALL = re.compile(r"TOOL_CALL: (\w+)\(")
SLOW_MS = 1000


def oracle_route(df: pd.DataFrame) -> tuple[dict, list, dict]:
    """Reference-semantics routing in plain Python: per-category counts,
    error-sink rows, and per (conv, turn) record counts."""
    counts = {"slow_query": 0, "error": 0, "tool_call": 0, "chat": 0}
    err_rows = []
    conv_has_ts: dict[str, bool] = {}
    conv_errors: dict[str, list] = {}
    conv_records: dict[str, list] = {}
    for t in df.itertuples():
        recs, errs, has = oracle.parse_turn_text(t.text or "")
        conv_has_ts[t.conv_id] = conv_has_ts.get(t.conv_id, False) or has
        conv_errors.setdefault(t.conv_id, []).extend(
            (t.conv_id, int(e.line), e.error, e.raw, e.error_class) for e in errs
        )
        conv_records.setdefault(t.conv_id, []).extend(recs)
    for conv, recs in conv_records.items():
        if not conv_has_ts[conv]:
            continue  # degenerate conv: records dropped
        for r in recs:
            m = ERR_CODE.search(r.description)
            if m:
                counts["error"] += 1
            elif r.execute_time is not None and r.execute_time >= SLOW_MS:
                counts["slow_query"] += 1
            elif TOOL_CALL.search(r.description):
                counts["tool_call"] += 1
            else:
                counts["chat"] += 1
    for conv, errs in conv_errors.items():
        if conv_has_ts[conv]:
            err_rows.extend(e[:4] for e in errs)
        else:
            # critical (Utf8) error present ⇒ ALL collected errors pass
            # through (io.rs:159-160 hands the full chunk_errors list)
            if any(e[4] == "Utf8" for e in errs):
                err_rows.extend(e[:4] for e in errs)
            else:
                err_rows.append((conv, 0, f"未知错误: {oracle.NO_VALID_LINE}", oracle.NO_VALID_LINE))
    return counts, sorted(err_rows), conv_has_ts


@pytest.fixture(scope="module")
def corpus():
    return generate_transcripts(3000, 42)


@pytest.fixture(scope="module")
def graph(spark, corpus):
    sdf = spark.createDataFrame(corpus, schema=TRANSCRIPT_SCHEMA).repartition(6)
    return build(spark, sdf, slow_ms=SLOW_MS)


def test_sink_counts_match_oracle(graph, corpus):
    got = {r["category"]: r["n"] for r in graph["sink_counts"].collect()}
    want, _, _ = oracle_route(corpus)
    want = {k: v for k, v in want.items() if v}
    assert got == want


def test_error_sink_matches_oracle(graph, corpus):
    got = sorted(
        (r["path"], int(r["line"]), r["error"], r["raw"])
        for r in graph["errors"].collect()
    )
    _, want, _ = oracle_route(corpus)
    assert got == want


def test_routed_row_set_equality(graph, corpus):
    """Routed-row set equality: every parsed record lands in exactly one
    category, keyed by (conv_id, turn_idx, rec_idx)."""
    routed = graph["routed"].select("conv_id", "turn_idx", "rec_idx").collect()
    keys = {(r[0], r[1], r[2]) for r in routed}
    assert len(keys) == len(routed)  # exactly-one sink per record
    _, _, conv_has_ts = oracle_route(corpus)
    want_keys = set()
    for t in corpus.itertuples():
        recs, _, _ = oracle.parse_turn_text(t.text or "")
        if not conv_has_ts[t.conv_id]:
            continue
        for i in range(len(recs)):
            want_keys.add((t.conv_id, int(t.turn_idx), i))
    assert keys == want_keys


def test_enrich_fields_present(graph):
    row = graph["routed"].filter("role = 'tool'").select("category_hint", "cost_weight").first()
    assert row is not None and row["cost_weight"] is not None


def test_conv_buckets_totals(graph):
    total = sum(r["n"] for r in graph["conv_buckets"].collect())
    counts = {r["category"]: r["n"] for r in graph["sink_counts"].collect()}
    assert total == sum(counts.values())


def test_degenerate_conv_synthesizes_single_error(spark):
    rows = [
        ("conv_a", 0, "user", "junk line", None, dt.datetime(2025, 1, 1, 0, 0, 0)),
        ("conv_a", 1, "user", "   ", None, dt.datetime(2025, 1, 1, 0, 0, 1)),
        ("conv_b", 0, "user",
         "2025-01-01 00:00:00.000 (EP[1] sess:NULL thrd:1 user:u trxid:1 stmt:NULL) [SEL]: x",
         None, dt.datetime(2025, 1, 1, 0, 0, 2)),
    ]
    sdf = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    g = build(spark, sdf)
    errs = g["errors"].collect()
    assert len(errs) == 1
    assert errs[0]["path"] == "conv_a" and errs[0]["line"] == 0
    assert errs[0]["raw"] == oracle.NO_VALID_LINE
    assert g["routed"].count() == 1  # only conv_b's record


def test_all_whitespace_conv_gets_synthetic_error(spark):
    """A conversation whose every turn yields no records AND no errors
    (whitespace-only text) still gets the synthetic 无有效日志行 row —
    io.rs:104-107 skips only 0-byte files; a whitespace-only file reaches
    the degenerate rule (io.rs:148-164, test sqllog_tests.rs:560-573)."""
    rows = [
        ("conv_w", 0, "user", "   ", None, dt.datetime(2025, 1, 1, 0, 0, 0)),
        ("conv_w", 1, "user", "\t\n  \n", None, dt.datetime(2025, 1, 1, 0, 0, 1)),
    ]
    sdf = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    g = build(spark, sdf)
    errs = g["errors"].collect()
    assert len(errs) == 1
    assert errs[0]["path"] == "conv_w" and errs[0]["line"] == 0
    assert errs[0]["raw"] == oracle.NO_VALID_LINE
    assert g["routed"].count() == 0


def test_degenerate_conv_keeps_utf8_errors(spark):
    rows = [
        ("conv_u", 0, "user", "�garbage no timestamp here at all", None,
         dt.datetime(2025, 1, 1, 0, 0, 0)),
    ]
    sdf = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    g = build(spark, sdf)
    errs = sorted(g["errors"].collect(), key=lambda r: r["error"])
    # critical error present ⇒ the FULL error list passes through
    # (io.rs:159-160): the Utf8 repair error AND the junk segment's Format
    # error, no synthetic row
    assert len(errs) == 2
    assert errs[0]["error"].startswith("UTF8解码错误")
    assert errs[1]["error"].startswith("日志格式错误")
    assert not any(r["raw"] == oracle.NO_VALID_LINE for r in errs)


def test_degenerate_conv_drops_embedded_records(spark):
    # a mid-line header can regex-match even though no line starts a segment;
    # the reference discards such records (io.rs:147-167 early return)
    rows = [
        ("conv_x", 0, "user",
         "junk 2025-01-01 00:00:00.000 (EP[1] sess:NULL thrd:1 user:u trxid:1 stmt:NULL) [SEL]: x",
         None, dt.datetime(2025, 1, 1, 0, 0, 0)),
    ]
    sdf = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    g = build(spark, sdf)
    assert g["routed"].count() == 0
    errs = g["errors"].collect()
    assert len(errs) == 1 and errs[0]["raw"] == oracle.NO_VALID_LINE


def test_sink_sort_order_gives_rowgroup_stats(spark, tmp_path):
    """K3 analog (duckdb_impl.rs:124-136 deferred indexes): records sink
    files are sorted by session within each file, so parquet column
    min/max statistics support data skipping on the reference's indexed
    columns."""
    import glob

    import pyarrow.parquet as pq

    from sqllog_analysis_spark.sinks.writers import write_records

    inp = str(tmp_path / "t.parquet")
    out = str(tmp_path / "sorted_out")
    write_transcripts(inp, 1200, seed=9)
    g = build(spark, spark.read.parquet(inp))
    write_records(g["routed"], os.path.join(out, "records"))

    files = glob.glob(os.path.join(out, "records", "category=*", "dt=*", "*.parquet"))
    assert files
    checked = 0
    for fp in files:
        pf = pq.ParquetFile(fp)
        sessions = pf.read(columns=["session"]).column("session").to_pylist()
        non_null = [s for s in sessions if s is not None]
        if len(non_null) < 2:
            continue
        assert non_null == sorted(non_null), fp
        # stats present on the session column for skipping
        md = pf.metadata.row_group(0)
        col = next(
            md.column(i) for i in range(md.num_columns)
            if md.column(i).path_in_schema == "session"
        )
        assert col.statistics is not None and col.statistics.has_min_max
        checked += 1
    assert checked > 0


def test_run_pipeline_and_resume(spark, tmp_path):
    inp = str(tmp_path / "transcripts.parquet")
    out = str(tmp_path / "out")
    write_transcripts(inp, 800, seed=5)

    # stages are reported in pipeline order, whichever of the two
    # concurrent sink chains finishes first
    stages = ["parsed", "records", "parse_errors", "aggregates"]
    s1 = run_pipeline(spark, PipelineConfig(input_path=inp, output_dir=out))
    assert s1["stages_ran"] == stages and s1["stages_skipped"] == []
    assert s1["records_routed"] > 0 and s1["parse_errors"] > 0

    recs1 = spark.read.parquet(os.path.join(out, "records"))
    n1 = recs1.count()

    # resume: nothing re-runs (including the parse stage), outputs
    # unchanged, no duplicate rows
    s2 = run_pipeline(spark, PipelineConfig(input_path=inp, output_dir=out))
    assert s2["stages_ran"] == [] and s2["stages_skipped"] == stages
    assert spark.read.parquet(os.path.join(out, "records")).count() == n1

    # partial resume: drop one stage's manifest → only that stage re-runs
    # (the staged parse is reused, not recomputed)
    os.remove(os.path.join(out, "_manifest", "parse_errors.json"))
    s3 = run_pipeline(spark, PipelineConfig(input_path=inp, output_dir=out))
    assert s3["stages_ran"] == ["parse_errors"]
    assert s3["stages_skipped"] == ["parsed", "records", "aggregates"]
    assert spark.read.parquet(os.path.join(out, "records")).count() == n1

    # manifest carries per-partition lineage + per-stage insert stats
    # (InsertStats/records_per_second analog, types.rs:112-153)
    m = json.load(open(os.path.join(out, "_manifest", "records.json")))
    assert m["committed"] and m["row_count"] == n1
    assert sum(p["row_count"] for p in m["partitions"]) == n1
    assert m["wall_sec"] > 0 and m["rows_per_sec"] > 0

    # input change invalidates the fingerprint → full re-run
    write_transcripts(inp, 900, seed=6)
    s4 = run_pipeline(spark, PipelineConfig(input_path=inp, output_dir=out))
    assert s4["stages_ran"] == stages


def test_salted_sink_write_bounded_files(spark, tmp_path):
    """The sink exchange bounds files per (category, dt) directory to
    files_per_partition, and salting changes no rows (operators/skew.py
    wired into the write path — round-2 finding #2)."""
    import glob
    from collections import Counter

    from sqllog_analysis_spark.sinks.writers import write_records

    inp = str(tmp_path / "t.parquet")
    write_transcripts(inp, 2000, seed=13)
    g = build(spark, spark.read.parquet(inp))
    fpp = 2
    out = str(tmp_path / "salted_out")
    write_records(g["routed"], os.path.join(out, "records"), files_per_partition=fpp)

    files = glob.glob(os.path.join(out, "records", "category=*", "dt=*", "*.parquet"))
    assert files
    per_dir = Counter(os.path.dirname(f) for f in files)
    assert max(per_dir.values()) <= fpp, per_dir.most_common(3)

    # row-set equality: the salted exchange rearranges, never drops/dupes
    routed = g["routed"].select("conv_id", "turn_idx", "rec_idx").collect()
    written = (
        spark.read.parquet(os.path.join(out, "records"))
        .select("conv_id", "turn_idx", "rec_idx")
        .collect()
    )
    key = lambda r: (r.conv_id, r.turn_idx, r.rec_idx)  # noqa: E731
    assert sorted(map(key, routed)) == sorted(map(key, written))


def test_salted_sink_spreads_mega_conversation(spark, tmp_path):
    """Skew stress: ONE conversation holds ~80% of the corpus, all in one
    (category, dt) combo.  The salted exchange must (a) keep the hot
    partition directory within the files_per_partition bound and (b)
    actually SPREAD the mega-conversation across several write tasks —
    the salt is row-content-derived, not conv_id-only, so a single hot
    conversation cannot funnel through one task."""
    import glob
    from collections import Counter

    from sqllog_analysis_spark.sinks.writers import write_records

    hot = [
        ("hot", i, 0, "chat", dt.datetime(2025, 9, 16, i % 24), "s1", "1", "t1")
        for i in range(2000)
    ]
    cold = [
        (f"c{i}", 0, 0, "chat", dt.datetime(2025, 9, 16, i % 24), "s2", "2", "t2")
        for i in range(500)
    ]
    routed = spark.createDataFrame(
        hot + cold,
        "conv_id string, turn_idx int, rec_idx int, category string, "
        "ts timestamp, session string, thread string, trx_id string",
    )
    fpp = 4
    out = str(tmp_path / "skew_out")
    # AQE coalescing merges KB-sized shuffle partitions back into one at
    # toy scale (correctly — they are tiny); disable it so the test can
    # observe the partitioning a at-scale write would get
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        write_records(routed, os.path.join(out, "records"), files_per_partition=fpp)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    files = glob.glob(os.path.join(out, "records", "category=*", "dt=*", "*.parquet"))
    per_dir = Counter(os.path.dirname(f) for f in files)
    assert max(per_dir.values()) <= fpp, per_dir.most_common(3)
    # the hot conversation's single (chat, 2025-09-16) combo spans >1 file
    hot_dir = [d for d in per_dir if "category=chat" in d]
    assert hot_dir and max(per_dir[d] for d in hot_dir) > 1


def test_dup_clusters_raises_on_non_convergence(spark):
    """An unconverged propagation must raise, not silently return split
    components (round-3 advice): a 12-node path cannot converge in one
    round even with pointer jumping."""
    from sqllog_analysis_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(pairs, max_iter=1)


def test_sink_contract_split_isolates_poison_rows(spark):
    """R2 (duckdb_impl.rs:475-488 analog): rows violating the sink write
    contract are skipped-and-logged, not stage-fatal.  A null conv_id is
    rejected earlier, by the parse
    (test_spark_parser.py::test_parse_stage_rejects_a_null_conv_id)."""
    from sqllog_analysis_spark.operators.routing import split_sink_contract

    rows = [
        ("c1", 0, "chat", dt.datetime(2025, 9, 16, 1), "fine"),
        ("c1", 1, "bogus_category", dt.datetime(2025, 9, 16, 2), "bad cat"),
        ("c2", 0, "slow_query", None, "null ts"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, category string, ts timestamp, description string"
    )
    good, bad = split_sink_contract(df)
    assert [r.conv_id for r in good.collect()] == ["c1"]
    bad_rows = {r.path: r for r in bad.collect()}
    assert set(bad_rows) == {"c1", "c2"}
    assert all("写入约束错误" in r.error for r in bad_rows.values())
    assert bad.columns == ["path", "line", "error", "raw"]


def test_route_records_category_is_total(spark):
    """Pin for the r6 category_total contract-check optimization: the
    category produced by route_records is a CLOSED when-chain — every
    branch outcome is a CATEGORIES literal, so the sink contract's
    set-membership term is statically true and run_pipeline may pass
    ``category_total=True`` to split_sink_contract."""
    from sqllog_analysis_spark.operators.routing import route_records
    from sqllog_analysis_spark.schema import CATEGORIES

    rows = [
        # exercise every branch: ERR code, slow, tool call, plain chat,
        # NULL execute_time, NULL description
        ("c", 0, "2025-09-16 01:00:00.000", "x ERR[-7001] y", 5, dt.datetime(2025, 9, 16)),
        ("c", 1, "2025-09-16 01:00:01.000", "slow", 99999, dt.datetime(2025, 9, 16)),
        ("c", 2, "2025-09-16 01:00:02.000", "TOOL_CALL: f(1)", 5, dt.datetime(2025, 9, 16)),
        ("c", 3, "2025-09-16 01:00:03.000", "plain", 5, dt.datetime(2025, 9, 16)),
        ("c", 4, "2025-09-16 01:00:04.000", None, None, dt.datetime(2025, 9, 16)),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, occurrence_time string, "
        "description string, execute_time long, ts timestamp",
    ).withColumn("error", F.lit(None).cast("string"))
    routed = route_records(df, slow_ms=1000)
    cats = {r.category for r in routed.select("category").distinct().collect()}
    assert cats <= set(CATEGORIES)
    # and the chain has no NULL escape: every row got a category
    assert routed.filter(F.col("category").isNull()).count() == 0


def test_run_pipeline_poison_partition_commits_rest(spark, tmp_path, monkeypatch):
    """End-to-end isolation: poison one conversation's routed rows (null
    ts) mid-pipeline; the other rows still commit to the records sink and
    the poison surfaces in the parse_errors sink as contract errors."""
    import sqllog_analysis_spark.plans.pipeline as P
    from pyspark.sql import functions as F

    inp = str(tmp_path / "transcripts.parquet")
    out_clean = str(tmp_path / "out_clean")
    out_poison = str(tmp_path / "out_poison")
    write_transcripts(inp, 600, seed=7)

    s_clean = run_pipeline(spark, PipelineConfig(input_path=inp, output_dir=out_clean))

    victim = (
        spark.read.parquet(os.path.join(out_clean, "records"))
        .groupBy("conv_id").count().orderBy(F.desc("count"), "conv_id")
        .first()
    )

    orig = P.route_records

    def poisoned(parsed, slow_ms=1000):
        df = orig(parsed, slow_ms=slow_ms)
        return df.withColumn(
            "ts", F.when(F.col("conv_id") == victim.conv_id, None).otherwise(F.col("ts"))
        )

    monkeypatch.setattr(P, "route_records", poisoned)
    s_poison = run_pipeline(
        spark, PipelineConfig(input_path=inp, output_dir=out_poison)
    )

    # stage committed; victim's rows skipped, everyone else landed
    assert s_poison["records_routed"] == s_clean["records_routed"] - victim["count"]
    recs = spark.read.parquet(os.path.join(out_poison, "records"))
    assert recs.filter(F.col("conv_id") == victim.conv_id).count() == 0
    # poison rows logged to the error sink on top of the normal parse errors
    errs = spark.read.json(os.path.join(out_poison, "parse_errors"))
    contract = errs.filter(F.col("error").contains("写入约束错误"))
    assert contract.count() == victim["count"]
    assert s_poison["parse_errors"] == s_clean["parse_errors"] + victim["count"]


def test_fingerprint_covers_partitioning_config(spark, tmp_path):
    """Resume must NOT reuse a staged parse written under a different
    target_partitions (round-2 advice)."""
    inp = str(tmp_path / "transcripts.parquet")
    out = str(tmp_path / "out")
    write_transcripts(inp, 400, seed=8)

    run_pipeline(spark, PipelineConfig(input_path=inp, output_dir=out))
    s2 = run_pipeline(
        spark, PipelineConfig(input_path=inp, output_dir=out, target_partitions=7)
    )
    assert "parsed" in s2["stages_ran"]  # stale stage not reused


def test_resume_recomputes_a_stage_of_the_older_format(spark, tmp_path):
    """staged_parsed used to hold the per-turn parse (sentinel rows, no
    synthetic 无有效日志行 rows), with the degenerate rule applied after
    it.  A resume over such a stage, committed under that format's
    fingerprint, must recompute it instead of losing the synthetic row."""
    from sqllog_analysis_spark.functions.parse import parse_batch
    from sqllog_analysis_spark.schema import PARSED_SCHEMA
    from sqllog_analysis_spark.sinks.manifest import Manifest, fingerprint_input

    hdr = "2025-01-01 00:00:00.000 (EP[1] sess:NULL thrd:1 user:u trxid:1 stmt:NULL) [SEL]: x"
    t0 = dt.datetime(2025, 1, 1)
    rows = [("conv_a", 0, "user", "junk line", None, t0), ("conv_b", 0, "user", hdr, None, t0)]
    inp = str(tmp_path / "transcripts.parquet")
    spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA).coalesce(1).write.parquet(inp)
    out = str(tmp_path / "out")

    old_fp = fingerprint_input(
        inp,
        {"slow_ms": 1000, "bucket": "hour", "target_partitions": None,
         "input_format": "transcripts"},
    )
    stage = spark.createDataFrame(
        parse_batch(spark.read.parquet(inp).toPandas()), schema=PARSED_SCHEMA
    )
    assert stage.filter(F.col("raw") == oracle.NO_VALID_LINE).count() == 0
    stage.write.parquet(os.path.join(out, "staged_parsed"))
    Manifest(os.path.join(out, "_manifest")).commit(
        "parsed", old_fp, row_count=2, extra={"input_turns": 2}
    )

    s = run_pipeline(spark, PipelineConfig(input_path=inp, output_dir=out))
    assert s["stages_ran"] == ["parsed", "records", "parse_errors", "aggregates"]
    assert s["records_routed"] == 1 and s["parse_errors"] == 1
    errs = spark.read.json(os.path.join(out, "parse_errors")).collect()
    assert [(e["path"], e["line"], e["raw"]) for e in errs] == [
        ("conv_a", 0, oracle.NO_VALID_LINE)
    ]


def test_lineage_many_files_parallel(tmp_path):
    """Footer lineage over a many-file dataset: correct per-file counts,
    wall time bounded by concurrent I/O rather than a sequential walk
    (500 footers in well under a second per footer)."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sqllog_analysis_spark.sinks.lineage import parquet_lineage

    d = tmp_path / "many"
    d.mkdir()
    n_files = 500
    for i in range(n_files):
        pq.write_table(pa.table({"x": list(range(i % 7 + 1))}), str(d / f"p{i:04d}.parquet"))
    t0 = time.perf_counter()
    lin = parquet_lineage(str(d))
    wall = time.perf_counter() - t0
    assert len(lin) == n_files
    assert sum(p["row_count"] for p in lin) == sum(i % 7 + 1 for i in range(n_files))
    assert wall < 10.0  # threaded metadata reads, not a per-file serial scan


def test_resume_replaces_partial_sink_output(spark, tmp_path):
    """Crash consistency: a run that died mid-write leaves a partial,
    uncommitted records dir (no manifest entry). The rerun must REPLACE
    that directory wholesale — no duplicate rows, no orphan files — which
    is exactly what stage-owned overwrite dirs + manifest gating promise."""
    inp = str(tmp_path / "transcripts.parquet")
    out = str(tmp_path / "out")
    # NB seed matters: seed=4 @500 draws ONE conversation, which the
    # generator then marks degenerate — a zero-record corpus
    write_transcripts(inp, 800, seed=5)

    s1 = run_pipeline(spark, PipelineConfig(input_path=inp, output_dir=out))
    n_expected = s1["records_routed"]
    assert n_expected > 0

    # simulate the crash aftermath: orphan garbage inside the sink dir and
    # a manifest that never recorded the records commit
    import glob

    part_dir = sorted(glob.glob(os.path.join(out, "records", "category=*", "dt=*")))[0]
    orphan = os.path.join(part_dir, "orphan-partial.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not a real parquet footer")
    os.remove(os.path.join(out, "_manifest", "records.json"))

    s2 = run_pipeline(spark, PipelineConfig(input_path=inp, output_dir=out))
    assert "records" in s2["stages_ran"]
    assert not os.path.exists(orphan)  # overwrite wiped the partial output
    recs = spark.read.parquet(os.path.join(out, "records"))
    assert recs.count() == n_expected  # no duplication
    assert s2["records_routed"] == n_expected


def test_run_pipeline_zero_record_corpus(spark, tmp_path):
    """A corpus whose only conversation is degenerate routes ZERO records:
    the pipeline must still commit every stage (empty records sink, empty
    aggregates) and put the synthetic errors in the error sink."""
    inp = str(tmp_path / "transcripts.parquet")
    out = str(tmp_path / "out")
    write_transcripts(inp, 500, seed=4)  # one conv, generator-degenerate

    s = run_pipeline(spark, PipelineConfig(input_path=inp, output_dir=out))
    assert s["records_routed"] == 0 and s["per_sink"] == {}
    assert s["parse_errors"] > 0
    assert set(s["stages_ran"]) == {"parsed", "records", "parse_errors", "aggregates"}
    errs = spark.read.json(os.path.join(out, "parse_errors"))
    assert errs.count() == s["parse_errors"]
