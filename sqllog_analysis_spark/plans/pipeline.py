"""End-to-end parse → enrich → route → aggregate pipeline (SURVEY.md §7.2).

Mirrors the reference CLI's flagship path (src/app.rs:105-182 →
duckdb_impl.rs:796-936) restated Spark-first:

  transcripts ──exchange(conv_id) + sort(conv_id, turn_idx)──► ordered turns
      └► parse (Arrow-vectorized mapInPandas, narrow) + the
               conversation-level degenerate rule, in the same iterator
      └► STAGE: one columnar write of the parsed output (run_pipeline)
      └► enrich (broadcast dim join)
      └► route  (when-chain category + parse_errors projection)
      └► sinks  (one partitioned parquet fan-out + JSONL errors)
      └► aggregates (conv × time-bucket rollups; per-sink counts from
                     the records files' footers)
      └► manifest (per-stage fingerprint + per-partition lineage → resume)

Shuffle budget: the parse stage has ONE exchange of the full data (hash
by conv_id, then a per-partition (conv_id, turn_idx) sort).  That puts
every conversation in one partition, contiguous and in turn order, so the
degenerate-input rule (io.rs:147-167) runs inside the parse's partition
iterator, as the reference applies it per file inside its reader; enrich
and route are narrow on top of the staged scan, and the only join is the
broadcast of the 24-row lookup dim.  The records sink adds one more,
deliberate exchange: the salted (category, dt) repartition that bounds
files per sink partition (sinks/writers.py).

Scale design: the parse stage (the single most expensive stage) runs
EXACTLY ONCE per run — its output is written to a staging parquet dir and
every downstream consumer (routing fan-out, error sink, aggregates) scans
that staged data with column pruning.  This replaces the round-1 design
(MEMORY_AND_DISK persist + eager count), which (a) cannot cache a 100 TB
parse output, and (b) serialized a full driver barrier before any sink
ran — the measured scaling-efficiency killer.  A staging write is the
standard checkpoint pattern: it parallelizes like any other task work and
adds no driver synchronization beyond the job boundary.

Fixed cost: a warm 20k-turn run on local[4] is 12 Spark jobs and 44
tasks, 4 of them Python (33 jobs and 150 tasks while the degenerate rule
ran as a JVM join/aggregate/union graph and sink_counts was a Spark
job); the pipeline reads its own outputs with their known schema, so no
footer-inference job runs either.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from sqllog_analysis_spark.functions.parse import parse_transcripts
from sqllog_analysis_spark.operators.aggregates import (
    conv_buckets as agg_conv_buckets,
    sink_counts as agg_sink_counts,
    summary as make_summary,
)
from sqllog_analysis_spark.sinks.lineage import (
    jsonl_lineage,
    parquet_lineage,
    path_exists,
    read_parquet_table,
    write_parquet_table,
)
from sqllog_analysis_spark.operators.enrich import enrich_with_dim
from sqllog_analysis_spark.operators.routing import (
    route_records,
    split_sink_contract,
)
from sqllog_analysis_spark.schema import DIM_SCHEMA, PARSED_SCHEMA
from sqllog_analysis_spark.session import scan_partitions
from sqllog_analysis_spark.sinks.manifest import Manifest, fingerprint_input
from sqllog_analysis_spark.sinks.writers import (
    records_frame,
    write_errors,
    write_records,
)
from sqllog_analysis_spark.sources.transcripts import role_tool_dim_rows


# run_pipeline's stages, in the order its summary reports them
STAGES = ("parsed", "records", "parse_errors", "aggregates")

# what staged_parsed holds, folded into the resume fingerprint: a stage
# written in another format (before the degenerate rule moved into the
# parse, it held sentinel rows and no synthetic ones) is recomputed
STAGED_FORMAT = "by-conversation-1"

SINK_COUNTS_SCHEMA = pa.schema([("category", pa.string()), ("n", pa.int64())])


@dataclass
class PipelineConfig:
    input_path: str
    output_dir: str
    # 'transcripts' = parquet table; 'raw' = dmsql_*.log directory via the
    # splittable chunk reader (sources/logfiles.py) — the reference CLI's
    # native input, same downstream graph
    input_format: str = "transcripts"
    slow_ms: int = 1000
    bucket: str = "hour"
    resume: bool = True
    # partition count for the conv_id exchange; None → parse_stage's
    # default, sized from the input scan.  Pin it explicitly when
    # comparing the SAME job across cluster sizes (perfbench's 1→4-core
    # scaling probe): partitioning belongs to the data, not the executor
    # count.
    target_partitions: int | None = None


def load_dim(spark: SparkSession) -> DataFrame:
    """The (role, tool) lookup dim as a JVM-local table.  Built from a
    pandas frame it plans as a ``LocalTableScan``; built from a list of
    rows it would be a ``Scan ExistingRDD`` that every broadcast of the dim
    re-reads through Python workers."""
    rows = pd.DataFrame(role_tool_dim_rows(), columns=DIM_SCHEMA.fieldNames())
    return spark.createDataFrame(rows, schema=DIM_SCHEMA)


def parse_stage(
    spark: SparkSession,
    transcripts: DataFrame,
    target_partitions: int | None = None,
) -> DataFrame:
    """The parse stage: one conv_id exchange, a per-partition
    (conv_id, turn_idx) sort, then the Arrow-vectorized parser — narrow on
    top of the single shuffle.  The sort puts each conversation's turns in
    order, as the reference reads a log file in byte order, so the parsed
    output comes out sorted by (conv_id, turn_idx, rec_idx).

    Width: ``target_partitions`` when given; else, for a file scan,
    ``max(defaultParallelism, session.scan_partitions(transcripts))`` — one
    task per core at least, and as many as Spark's bytes-based input split,
    so it grows with the data but no further: each parse task is a Python
    task with a fixed ~0.25 CPU-s cost (README "Scale design").  An input
    that reads no files (the raw log reader, an in-memory frame) keeps
    ``4 × defaultParallelism``."""
    if target_partitions:
        n = target_partitions
    else:
        dp = spark.sparkContext.defaultParallelism
        n_scan = scan_partitions(transcripts)
        n = 4 * dp if n_scan is None else max(dp, n_scan)
    return parse_transcripts(
        transcripts.repartition(n, "conv_id").sortWithinPartitions(
            "conv_id", "turn_idx"
        )
    )


def downstream(
    spark: SparkSession,
    parsed: DataFrame,
    dim: DataFrame | None = None,
    slow_ms: int = 1000,
    bucket: str = "hour",
) -> dict[str, DataFrame]:
    """Everything after the parse stage, as a pure transformation graph.

    ``parsed`` is :func:`parse_stage`'s output, which has the
    conversation-level degenerate rule applied already; ideally a staged
    (already materialized) source so the branches below share its scan
    instead of re-running the parse.

    ``error_rows`` is the 5-column projection (conv_id, error_line, error,
    raw, error_class) of the rows with a parse error, and ``errors`` its
    {path, line, error, raw} sink shape.  ``degen`` lists the conversations
    that got the synthetic 无有效日志行 row (the only rows of class
    ``Other``)."""
    if dim is None:
        dim = load_dim(spark)
    routed = route_records(enrich_with_dim(parsed, dim), slow_ms=slow_ms)
    error_rows = parsed.filter(F.col("error").isNotNull()).select(
        "conv_id", "error_line", "error", "raw", "error_class"
    )
    errors = error_rows.select(
        F.col("conv_id").alias("path"), F.col("error_line").alias("line"),
        "error", "raw",
    )
    degen = parsed.filter(F.col("error_class") == "Other").select("conv_id")
    return {
        "parsed": parsed,
        "degen": degen,
        "error_rows": error_rows,
        "routed": routed,
        "errors": errors,
        "sink_counts": agg_sink_counts(routed),
        "conv_buckets": agg_conv_buckets(routed, bucket=bucket),
    }


def build(
    spark: SparkSession,
    transcripts: DataFrame,
    dim: DataFrame | None = None,
    slow_ms: int = 1000,
    bucket: str = "hour",
    target_partitions: int | None = None,
) -> dict[str, DataFrame]:
    """Pure transformation graph — no writes, no actions, no caching.
    Each returned output materializes independently (the parse re-runs per
    action); callers that materialize several outputs should either stage
    the parse via :func:`run_pipeline` / :func:`build_staged` or mark
    ``graph['parsed'].persist()`` themselves for small inputs."""
    parsed = parse_stage(spark, transcripts, target_partitions)
    g = downstream(spark, parsed, dim, slow_ms=slow_ms, bucket=bucket)
    g["transcripts"] = transcripts
    return g


def build_staged(
    spark: SparkSession,
    transcripts: DataFrame,
    stage_dir: str,
    dim: DataFrame | None = None,
    slow_ms: int = 1000,
    bucket: str = "hour",
    target_partitions: int | None = None,
    reuse_stage: bool = False,
) -> dict[str, DataFrame]:
    """Run the parse ONCE, write it to ``stage_dir``, and build the
    downstream graph over the staged scan.  The one action here is the
    staging write; everything else stays lazy."""
    if not (reuse_stage and path_exists(os.path.join(stage_dir, "_SUCCESS"))):
        parse_stage(spark, transcripts, target_partitions).write.mode(
            "overwrite"
        ).parquet(stage_dir)
    # the known schema: no footer-inference job
    parsed = spark.read.schema(PARSED_SCHEMA).parquet(stage_dir)
    g = downstream(spark, parsed, dim, slow_ms=slow_ms, bucket=bucket)
    g["transcripts"] = transcripts
    return g


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> dict:
    """Execute with manifest-gated, idempotent, resumable stage writes.

    Stage list (each independently resumable):
      parsed       → <out>/staged_parsed    (the single parse materialization)
      records      → <out>/records          (partitioned category fan-out)
      parse_errors → <out>/parse_errors     (JSONL)
      aggregates   → <out>/sink_counts, <out>/conv_buckets

    Driver-side concurrency (the Amdahl budget at scale): after the staged
    parse, TWO driver threads run the independent sink chains —
    (records write → footer lineage → aggregates) and (errors write →
    lineage) — so no executor-idle gap opens between jobs; all lineage is
    threaded metadata reads (sinks/lineage.py); the input row count rides
    an ``observe()`` on the staged-write job instead of a second walk of
    the input.
    """
    manifest = Manifest(os.path.join(cfg.output_dir, "_manifest"))
    fp = fingerprint_input(
        cfg.input_path,
        {
            "slow_ms": cfg.slow_ms,
            "bucket": cfg.bucket,
            "target_partitions": cfg.target_partitions,
            "input_format": cfg.input_format,
            "staged_format": STAGED_FORMAT,
        },
    )
    # no leading underscore: Spark's file index treats _-prefixed paths as
    # hidden metadata (reading them relies on explicit-root-path behavior)
    stage_dir = os.path.join(cfg.output_dir, "staged_parsed")

    from pyspark.sql import Observation

    in_obs = Observation()
    # counts the pipeline's input turns DURING the staged-write job —
    # zero extra jobs, no driver-side walk of the (possibly remote) input
    if cfg.input_format == "raw":
        from sqllog_analysis_spark.sources.logfiles import read_sqllog_dir

        source = read_sqllog_dir(spark, cfg.input_path)
    else:
        source = spark.read.parquet(cfg.input_path)
    transcripts = source.observe(in_obs, F.count(F.lit(1)).alias("n"))
    parse_committed = cfg.resume and manifest.is_committed("parsed", fp)
    t_parse = time.perf_counter()
    g = build_staged(
        spark,
        transcripts,
        stage_dir,
        slow_ms=cfg.slow_ms,
        bucket=cfg.bucket,
        target_partitions=cfg.target_partitions,
        reuse_stage=parse_committed,
    )
    ran, skipped = [], []

    def commit(stage: str, lineage: list[dict], n: int, t0: float, **extra) -> None:
        sec = max(time.perf_counter() - t0, 1e-9)
        manifest.commit(
            stage,
            fp,
            row_count=n,
            partitions=lineage,
            # per-stage insert stats — the InsertStats/records_per_second
            # analog (reference src/database/types.rs:112-153)
            extra={
                "wall_sec": round(sec, 3),
                "rows_per_sec": round(n / sec, 1),
                **extra,
            },
        )
        ran.append(stage)

    if parse_committed:
        skipped.append("parsed")
        n_turns = manifest.read("parsed")["input_turns"]
    else:
        # lineage from the written files' parquet footers — metadata-only,
        # no recompute (sinks/lineage.py)
        n_turns = int(in_obs.get["n"])
        lineage = parquet_lineage(stage_dir)
        commit(
            "parsed",
            lineage,
            sum(p["row_count"] for p in lineage),
            t_parse,
            input_turns=n_turns,
        )

    # sink-write isolation (R2): rows violating the records sink's write
    # contract are skipped-and-logged like the reference's failed insert
    # batches (duckdb_impl.rs:475-488) instead of failing the stage.
    # category_total: route_records' category is a closed when-chain, so
    # the violation predicate reduces to a ts null check that pushes
    # down to the staged scan — the error chain no longer re-runs
    # the enrich/route regex chain over the full staged data (r6).
    writable, contract_bad = split_sink_contract(g["routed"], category_total=True)
    rec_dir = os.path.join(cfg.output_dir, "records")
    err_dir = os.path.join(cfg.output_dir, "parse_errors")

    def run_records() -> None:
        t0 = time.perf_counter()
        write_records(writable, rec_dir)
        lineage = parquet_lineage(rec_dir)
        commit("records", lineage, sum(p["row_count"] for p in lineage), t0)

    def run_errors() -> None:
        t0 = time.perf_counter()
        # JSONL has no footers: the row count comes from the write job's
        # observe() counter, lineage records file sizes
        n = write_errors(g["errors"].unionByName(contract_bad), err_dir)
        commit("parse_errors", jsonl_lineage(err_dir), n, t0)

    def run_aggregates() -> None:
        t0 = time.perf_counter()
        # conv_buckets aggregates over the WRITTEN records sink, not a
        # recompute: the enrich/route chain runs exactly once (inside the
        # records write), and this groupBy is a column-pruned scan of the
        # columnar sink, read with its known schema (no footer-inference
        # job; a records sink with no files reads as zero rows).
        # sink_counts is the files' footer row counts summed per
        # category= directory: facts the driver already holds, no job
        routed_src = spark.read.schema(records_frame(writable).schema).parquet(rec_dir)
        n = Counter()
        for f in parquet_lineage(rec_dir):
            part = dict(d.split("=", 1) for d in f["file"].split("/")[:-1] if "=" in d)
            n[part["category"]] += f["row_count"]
        agg_conv_buckets(routed_src, bucket=cfg.bucket).write.mode(
            "overwrite"
        ).parquet(os.path.join(cfg.output_dir, "conv_buckets"))
        counts_dir = os.path.join(cfg.output_dir, "sink_counts")
        write_parquet_table(
            pa.table({"category": list(n), "n": list(n.values())}, schema=SINK_COUNTS_SCHEMA),
            counts_dir,
        )
        lineage = parquet_lineage(counts_dir)
        commit("aggregates", lineage, sum(p["row_count"] for p in lineage), t0)

    # two independent driver-side chains over the staged scan, run
    # CONCURRENTLY (separate driver threads → separate Spark jobs sharing
    # executor slots: the standard multi-sink pattern):
    #   chain A: records write → aggregates (aggregates reads the records
    #            sink, so it chains — but does NOT wait for errors)
    #   chain B: errors write
    def chain_records() -> None:
        if cfg.resume and manifest.is_committed("records", fp):
            skipped.append("records")
        else:
            run_records()
        if cfg.resume and manifest.is_committed("aggregates", fp):
            skipped.append("aggregates")
        else:
            run_aggregates()

    def chain_errors() -> None:
        if cfg.resume and manifest.is_committed("parse_errors", fp):
            skipped.append("parse_errors")
        else:
            run_errors()

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as ex:
        for f in [ex.submit(chain_records), ex.submit(chain_errors)]:
            f.result()  # propagate failures

    # summary inputs come from written files / footers, not extra jobs
    # (fs-abstracted: works for local dirs and remote URIs alike)
    counts_tbl = read_parquet_table(
        os.path.join(cfg.output_dir, "sink_counts")
    ).to_pylist()
    counts = {r["category"]: r["n"] for r in counts_tbl}
    n_errors = (manifest.read("parse_errors") or {}).get("row_count", 0)
    s = make_summary(n_turns, counts, n_errors)
    # the two chains append concurrently: report in stage order instead
    s.update(
        {
            "stages_ran": sorted(ran, key=STAGES.index),
            "stages_skipped": sorted(skipped, key=STAGES.index),
            "fingerprint": fp,
        }
    )
    return s
