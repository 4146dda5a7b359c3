"""Physical-plan regression tests: the scale-critical plan shapes that
PLANS.md documents are asserted here, so a refactor that silently adds a
shuffle, drops a broadcast, loses parquet pushdown, or pulls a hot path
into Python fails CI instead of surfacing at 100 TB.

Assertions read ``explain('formatted')`` text — operator NAMES, not ids —
and count only structural facts (number of Exchanges, join strategy,
PushedFilters, absence of Python eval nodes)."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_nodes(txt: str, name: str) -> int:
    # count plan TREE nodes — formatted lines like "+- Exchange (3)" or
    # "+- BroadcastHashJoin LeftOuter BuildRight (12)" — not the
    # operator-detail paragraphs below the tree
    import re

    pat = re.compile(rf"^[\s+\-:*]*{name}\b.*\(\d+\)$")
    return sum(1 for line in txt.splitlines() if pat.match(line))


def n_exchanges(txt: str) -> int:
    return n_nodes(txt, "Exchange")


def exchange_width(df) -> int:
    """Partition count of the plan's hashpartitioning(conv_id) exchange."""
    m = re.search(r"hashpartitioning\(conv_id#\d+, (\d+)\)", plan_text(df))
    return int(m[1])


def _t(spark, name):
    return spark.read.parquet(f"{SF}/{name}.parquet")


def test_funnel_one_data_exchange_regardless_of_depth(spark):
    from sqllog_analysis_spark.operators.loganalytics import funnel_counts

    e = _t(spark, "events")
    txt = plan_text(funnel_counts(e, ["view", "click", "purchase"]))
    # exchange 1: the user_id shuffle; exchange 2: single-row final reduce
    assert n_exchanges(txt) == 2
    assert txt.count("Window") >= 3  # one per step, stacked, no re-shuffle


def test_digest_aggregates_map_side_with_no_python(spark):
    from sqllog_analysis_spark.operators.loganalytics import sql_shape_digest

    d = spark.createDataFrame(
        [("select 1", 5)], "description string, execute_time long"
    )
    txt = plan_text(sql_shape_digest(d))
    # partial agg + final agg + result sort = 2 exchanges, nothing more
    assert n_exchanges(txt) == 2
    # the regexp normalizer chain must stay JVM-side
    assert "EvalPython" not in txt and "InPandas" not in txt


def test_broadcast_enrich_uses_broadcast_hash_join(spark):
    from sqllog_analysis_spark.operators.enrich import enrich_with_dim

    parsed = spark.createDataFrame(
        [("assistant", "sql_exec", 1)], "role string, tool string, x int"
    )
    dim = spark.createDataFrame(
        [("assistant", "sql_exec", "tool_call", 2.0), ("assistant", None, "chat", 1.0)],
        "role string, tool string, category_hint string, cost_weight double",
    )
    txt = plan_text(enrich_with_dim(parsed, dim))
    assert n_nodes(txt, "BroadcastHashJoin") == 2  # exact + role-default lookup
    assert "SortMergeJoin" not in txt


def test_parse_stage_is_one_exchange_and_a_sort(spark):
    """The parse stage orders each conversation's turns with ONE
    hash(conv_id) exchange and a per-partition (conv_id, turn_idx) sort
    feeding the Python parser — no Window operator."""
    import datetime
    import re

    from sqllog_analysis_spark.plans.pipeline import parse_stage
    from sqllog_analysis_spark.schema import TRANSCRIPT_SCHEMA

    t = spark.createDataFrame(
        [("c1", 0, "user", "x", None, datetime.datetime(2025, 1, 1))],
        schema=TRANSCRIPT_SCHEMA,
    )
    txt = plan_text(parse_stage(spark, t, target_partitions=4))
    assert "Window" not in txt
    assert n_exchanges(txt) == 1
    assert re.search(r"Arguments: hashpartitioning\(conv_id#\d+, 4\)", txt)
    assert re.search(
        r"\(\d+\) Sort\n.*\nArguments: "
        r"\[conv_id#\d+ ASC NULLS FIRST, turn_idx#\d+ ASC NULLS FIRST\]",
        txt,
    )
    # tree lines read top-down: the parser sits above the sort, the sort
    # above the exchange, with at most a projection in between
    tree = [
        line.strip(" +-:*").split(" (")[0]
        for line in txt.split("\n\n")[0].splitlines()[1:]
    ]
    i = tree.index("MapInPandas")
    assert [n for n in tree[i + 1:] if n != "Project"][:2] == ["Sort", "Exchange"]


def test_lookup_dim_is_a_jvm_local_table(spark, tmp_path):
    """The enrich dim is a LocalTableScan, so no broadcast of it starts a
    Python worker; a dim built from a list of rows would be a Scan
    ExistingRDD, read through Python workers on every broadcast."""
    from sqllog_analysis_spark.operators.enrich import enrich_with_dim
    from sqllog_analysis_spark.plans.pipeline import load_dim
    from sqllog_analysis_spark.sources.transcripts import write_transcripts

    dim = load_dim(spark)
    txt = plan_text(dim)
    assert n_nodes(txt, "LocalTableScan") == 1
    assert "ExistingRDD" not in txt

    inp = str(tmp_path / "t.parquet")
    write_transcripts(inp, 200, seed=3)
    txt = plan_text(enrich_with_dim(spark.read.parquet(inp), dim))
    assert "Scan parquet" in txt
    for node in ("ExistingRDD", "EvalPython", "InPandas"):
        assert node not in txt, node


def test_raw_log_chunk_table_is_a_jvm_local_table(spark, tmp_path):
    """The raw log reader's byte-range chunk table is a LocalTableScan;
    built from a list of tuples it would be a Scan ExistingRDD, read
    through Python workers before the chunk exchange."""
    from sqllog_analysis_spark.sources.logfiles import read_sqllog_dir

    d = tmp_path / "rawlogs"
    d.mkdir()
    (d / "dmsql_a.log").write_text(
        "2025-09-21 12:00:00.000 (EP[1] sess:NULL thrd:1 user:usr trxid:1 "
        "stmt:NULL) [SEL]: select 1\n",
        encoding="utf-8",
    )
    txt = plan_text(read_sqllog_dir(spark, str(d)))
    assert n_nodes(txt, "LocalTableScan") == 1
    assert "ExistingRDD" not in txt


def test_parse_stage_width_follows_the_input_split(spark, tmp_path):
    """With no target_partitions the conv_id exchange gets
    max(defaultParallelism, partitions of the input scan); an explicit
    value still wins, and computing the default runs no Spark job."""
    from sqllog_analysis_spark.plans.pipeline import parse_stage
    from sqllog_analysis_spark.schema import TRANSCRIPT_SCHEMA
    from sqllog_analysis_spark.session import scan_partitions
    from sqllog_analysis_spark.sources.transcripts import generate_transcripts

    sc = spark.sparkContext
    dp = sc.defaultParallelism
    pdf = generate_transcripts(400, 7)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    one, many = str(tmp_path / "one.parquet"), str(tmp_path / "many.parquet")
    src.coalesce(1).write.parquet(one)
    src.repartition(3 * dp).write.parquet(many)

    # reading a parquet schema runs a job, so read before counting; each
    # frame's scan is split (planned) later, under the conf of the moment
    whole, cut, small = (spark.read.parquet(p) for p in (one, one, many))
    group = "parse_stage_width"
    sc.setJobGroup(group, "count jobs")
    split_conf = {
        "spark.sql.files.maxPartitionBytes": "4096",
        "spark.sql.files.openCostInBytes": "1024",
    }
    try:
        # one small file: a single split, so one task per core
        assert scan_partitions(whole) == whole.rdd.getNumPartitions() == 1
        assert exchange_width(parse_stage(spark, whole)) == dp
        assert exchange_width(parse_stage(spark, whole, target_partitions=3)) == 3
        # many small files pack into few splits
        n_small = scan_partitions(small)
        assert n_small == small.rdd.getNumPartitions() < len(small.inputFiles())
        assert exchange_width(parse_stage(spark, small)) == max(dp, n_small)
        # the same file cut into 4 KB splits: the width follows the split
        for k, v in split_conf.items():
            spark.conf.set(k, v)
        n_scan = scan_partitions(cut)
        assert n_scan == cut.rdd.getNumPartitions() > dp
        assert exchange_width(parse_stage(spark, cut)) == n_scan
        assert exchange_width(parse_stage(spark, cut, target_partitions=3)) == 3
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        cut.count()  # the counter sees a job when one runs
        assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 1
    finally:
        for k in split_conf:
            spark.conf.unset(k)
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_parse_stage_width_of_raw_log_input(spark, tmp_path):
    """The raw dmsql reader reads no files through a Spark scan (its chunk
    table is in memory), so its parse keeps 4 × defaultParallelism
    whatever the number of log files."""
    from sqllog_analysis_spark.plans.pipeline import parse_stage
    from sqllog_analysis_spark.session import scan_partitions
    from sqllog_analysis_spark.sources.logfiles import read_sqllog_dir

    dp = spark.sparkContext.defaultParallelism
    line = (
        "2025-09-21 12:00:00.000 (EP[1] sess:NULL thrd:1 user:usr trxid:1 "
        "stmt:NULL) [SEL]: select 1\n"
    )
    d = tmp_path / "rawlogs"
    d.mkdir()
    for i in range(8 * dp):
        (d / f"dmsql_{i}.log").write_text(line, encoding="utf-8")
    raw = read_sqllog_dir(spark, str(d))
    assert scan_partitions(raw) is None
    assert exchange_width(parse_stage(spark, raw)) == 4 * dp
    assert exchange_width(parse_stage(spark, raw, target_partitions=3)) == 3


def test_filter_and_projection_reach_the_parquet_scan(spark):
    li = _t(spark, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    ).filter((F.col("l_extendedprice") > 5000) & (F.col("l_discount") < 0.05))
    txt = plan_text(li)
    assert "PushedFilters: [IsNotNull(l_extendedprice)" in txt or "GreaterThan(l_extendedprice" in txt
    # column pruning: the scan must not read the whole 11-column table
    sched = [l for l in txt.splitlines() if "ReadSchema" in l]
    assert sched and "l_quantity" not in sched[0] and "l_shipdate" not in sched[0]


def test_minhash_signatures_are_narrow(spark):
    from sqllog_analysis_spark.operators.dedup import minhash_signatures

    d = spark.createDataFrame(
        [(1, "a b c d e"), (2, "b c d e f")], "doc_id long, text string"
    )
    txt = plan_text(minhash_signatures(d, n_hashes=16, shingle_k=3))
    # signature derivation itself never hash-shuffles; the single allowed
    # exchange is the deliberate ROUND-ROBIN spread of a compact input
    # (dedup._spread_compact_input) that exists to unlock parallelism
    assert n_exchanges(txt) <= 1
    assert "hashpartitioning" not in txt
    assert ("RoundRobinPartitioning" in txt) == (n_exchanges(txt) == 1)


def test_heavy_hitters_second_pass_is_broadcast_semi(spark):
    from sqllog_analysis_spark.operators.loganalytics import heavy_hitters

    items = spark.createDataFrame(
        [(w,) for w in ["a"] * 30 + ["b"] * 5], "item string"
    )
    txt = plan_text(heavy_hitters(items, "item", 0.2))
    assert "BroadcastHashJoin" in txt and "LeftSemi" in txt
    # the MG sketch ran eagerly (bounded collect); the returned exact
    # pass is pure JVM — no Python stage in the plan that scans the data
    assert n_nodes(txt, "MapInPandas") == 0


@pytest.mark.parametrize(
    "which", ["asof", "interval"]
)
def test_temporal_joins_never_nested_loop(spark, which):
    from sqllog_analysis_spark.operators.asof import asof_join
    from sqllog_analysis_spark.operators.rangejoin import interval_join

    e = _t(spark, "events")
    left = e.select("event_id", "user_id", "ts")
    if which == "asof":
        right = e.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "value"
        )
        out = asof_join(left, right, on="user_id")
    else:
        right = (
            e.filter(F.col("event_type") == "error")
            .select("user_id", F.col("ts").alias("s"))
            .withColumn("en", F.col("s") + F.expr("INTERVAL 1 HOUR"))
        )
        out = interval_join(
            left, right, on="user_id", left_ts="ts", start="s", end="en"
        )
    txt = plan_text(out)
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_chunking_is_a_pure_projection(spark):
    from sqllog_analysis_spark.operators.corpus import chunk_documents

    d = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    )
    txt = plan_text(chunk_documents(d, chunk_tokens=4, overlap=1))
    assert n_exchanges(txt) == 0
    assert "EvalPython" not in txt and "InPandas" not in txt


def test_warm_run_pipeline_job_count(spark, tmp_path):
    """A warm run_pipeline runs a fixed, small number of Spark jobs: the
    degenerate-conversation rule runs inside the parse, sink_counts comes
    from the records files' footers and the pipeline reads its own
    outputs with their known schema.  A warm 20k-turn run on local[4]
    went from 33 jobs to 12 with those changes; a new job in the batch
    path fails here."""
    from sqllog_analysis_spark.plans.pipeline import PipelineConfig, run_pipeline
    from sqllog_analysis_spark.sources.transcripts import write_transcripts

    inp = str(tmp_path / "transcripts.parquet")
    write_transcripts(inp, 2000, seed=3)
    cfg = PipelineConfig(input_path=inp, output_dir=str(tmp_path / "out"), resume=False)
    run_pipeline(spark, cfg)  # warm-up
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    s = run_pipeline(spark, cfg)
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert s["records_routed"] > 0 and s["parse_errors"] > 0
    assert 0 < len(jobs) <= 12, sorted(jobs)
