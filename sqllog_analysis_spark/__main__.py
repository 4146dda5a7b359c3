"""CLI entry point.

    spark-submit --master <cluster-master> \
        --py-files dist/sqllog_analysis_spark.zip \
        submit_main.py --input <transcripts.parquet> --output <dir>
or locally:
    python -m sqllog_analysis_spark --input <transcripts.parquet> --output <dir>

Mirrors the reference CLI (src/main.rs → app::run, config in
src/config.rs): configuration is discovered from ``$SQLLOG_CONFIG`` →
``./config.toml`` → ``<config dir>/sqllog-analysis/config.toml`` (missing
= defaults, malformed = exit 2, config.rs:182-219), CLI flags override
file values, config validation exits 2 on invalid values, missing input
warns and exits 0 (app.rs:110-113 empty-directory behavior), and the run
prints the analysis summary the reference logs at the end of a batch.

``--in-memory`` (or ``[warehouse] in_memory = true``) is the ephemeral-
warehouse mode (C4, duckdb_impl.rs:66-84): sinks land in a temporary
directory that is deleted when the run ends; results are NOT persisted
and export is skipped with a warning — the reference's documented caveat
(config.toml.example:29-34: an export connection re-opens the then-empty
disk DB) made explicit instead of silently exporting nothing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    from sqllog_analysis_spark.config import ConfigError, load_config, validate

    ap = argparse.ArgumentParser(prog="sqllog_analysis_spark")
    ap.add_argument("--config", default=None, help="config.toml path (overrides discovery)")
    ap.add_argument("--input", default=None, help="transcripts parquet path (or dmsql log dir with --input-format raw)")
    ap.add_argument("--input-format", default=None, choices=["transcripts", "raw"],
                    help="'transcripts' parquet table (default) or 'raw' "
                         "dmsql_*.log directory (the reference CLI's input)")
    ap.add_argument("--output", default=None, help="output directory (sinks + manifest)")
    ap.add_argument("--slow-ms", type=int, default=None, help="slow-query threshold (ms)")
    ap.add_argument("--bucket", default=None, choices=["minute", "hour", "day"])
    ap.add_argument("--no-resume", action="store_true", help="ignore the manifest and recompute")
    ap.add_argument("--export", default=None, help="also export routed records as csv|json to <output>/export")
    ap.add_argument("--in-memory", action="store_true", help="ephemeral warehouse: outputs are NOT persisted")
    ap.add_argument("--cores", type=int, default=None, help="local[N] cores (default: local[*])")
    ap.add_argument("--follow", action="store_true",
                    help="streaming mode: continuously ingest NEW files with "
                         "the full routing graph (exactly-once per-batch "
                         "sinks); processes everything available, then keeps "
                         "watching for --follow-seconds. raw input: each "
                         "dmsql_*.log file is read once, at first sight — "
                         "suited to rotated/complete files, not a "
                         "still-growing file. transcripts input: a DIRECTORY "
                         "of parquet files; conversations are buffered until "
                         "quiet for --follow-gap of EVENT time, so results "
                         "match the batch pipeline exactly — conversations "
                         "newer than (max seen ts - gap - watermark) stay "
                         "open until later data arrives")
    ap.add_argument("--follow-seconds", type=float, default=0.0,
                    help="with --follow: keep watching the directory this many "
                         "seconds after draining it (0 = drain and exit)")
    ap.add_argument("--follow-gap", default="5 minutes",
                    help="with --follow on transcripts input: a conversation "
                         "closes after this much EVENT-time quiet (default "
                         "'5 minutes')")
    ap.add_argument("--digest", type=int, default=0, metavar="N",
                    help="after the run, print the top-N statement shapes "
                         "(literal-masked, pt-query-digest style) from the "
                         "routed records sink in the summary JSON")
    ap.add_argument("--compact", action="store_true",
                    help="after the run, rewrite fragmented (category, dt) "
                         "sink partitions into ~128MB files (small-file "
                         "maintenance; idempotent)")
    ap.add_argument("--retain-days", type=int, default=None, metavar="D",
                    help="after the run, drop records-sink dt= partitions "
                         "older than D days (pure metadata delete)")
    ap.add_argument("--log-dir", default=None,
                    help="enable app logging; dir → dated file inside, path with "
                         "extension → that file (analysis_log.rs:96-124)")
    args = ap.parse_args(argv)

    try:
        cfg = load_config(path=args.config)
        # CLI overrides file values, file values override defaults
        if args.input is not None:
            cfg.input = args.input
        if args.input_format is not None:
            cfg.input_format = args.input_format
        if args.output is not None:
            cfg.output = args.output
        if args.slow_ms is not None:
            cfg.slow_ms = args.slow_ms
        if args.bucket is not None:
            cfg.bucket = args.bucket
        if args.cores is not None:
            cfg.cores = args.cores
        if args.in_memory:
            cfg.in_memory = True
        if args.export is not None:
            cfg.export_enabled = True
            cfg.export_format = args.export.strip().lower()
        if args.log_dir is not None:
            cfg.log_enabled = True
            cfg.log_file = args.log_dir
        validate(cfg)
        if args.follow and cfg.input_format == "transcripts" and cfg.input and not os.path.isdir(cfg.input):
            raise ConfigError(
                "--follow 需要目录输入 (transcripts 流式模式监视 parquet 目录)"
            )
        if args.follow and (args.compact or args.retain_days is not None):
            # the streaming sink (records_stream/ingest_batch=*) has a
            # different layout than the batch records sink; silently
            # ignoring maintenance flags would let the sink grow unbounded
            # while the operator believes retention is active
            raise ConfigError(
                "--compact/--retain-days 不支持 --follow 模式 (流式 sink 布局不同)"
            )
    except ConfigError as e:
        print(f"配置错误: {e}", file=sys.stderr)
        return 2  # config validation exits 2 (config.rs:211, 298-308)

    if cfg.log_enabled:
        from sqllog_analysis_spark.logging_setup import init_logging

        try:
            init_logging(
                enabled=True,
                log_file=cfg.log_file,
                level=cfg.log_level,
                enable_stdout=cfg.log_stdout,
            )
        except OSError as e:
            # analysis_log.rs init() → io::Result: dir-create failure is an
            # error surfaced to the caller (log_init_dir_create_fail.rs)
            print(f"日志初始化失败: {e}", file=sys.stderr)
            return 1

    if not os.path.exists(cfg.input):
        print(f"warning: input not found: {cfg.input}", file=sys.stderr)
        return 0  # empty input is a warn-and-return (app.rs:110-113)

    out_dir = cfg.output
    tmp_ctx = None
    if cfg.in_memory:
        import tempfile

        tmp_ctx = tempfile.TemporaryDirectory(prefix="sqllog_mem_")
        out_dir = tmp_ctx.name

    from sqllog_analysis_spark.plans.pipeline import PipelineConfig, run_pipeline
    from sqllog_analysis_spark.session import get_spark

    spark = get_spark("sqllog_analysis_spark", cores=cfg.cores)
    try:
        if args.follow:
            summary = _run_follow(
                spark, cfg, out_dir, args.follow_seconds, gap=args.follow_gap
            )
            summary["in_memory"] = cfg.in_memory
            rec_root = os.path.join(out_dir, "records_stream")
            if args.digest and os.path.isdir(rec_root):
                from sqllog_analysis_spark.operators.loganalytics import (
                    latency_percentiles,
                )

                digest, latency = [], []
                # batches that routed no record leave no parquet file to
                # take a schema from
                if summary["records_routed"]:
                    records = spark.read.parquet(rec_root)
                    digest = _digest_rows(records, args.digest)
                    latency = latency_percentiles(records).collect()
                summary["workload_digest"] = digest
                summary["latency_percentiles"] = {
                    r["category"]: {
                        "n": r["n"],
                        "q50_ub_ms": r["q50_ub_ms"],
                        "q99_ub_ms": r["q99_ub_ms"],
                    }
                    for r in latency
                }
            print(json.dumps(summary, ensure_ascii=False))
            return 0
        summary = run_pipeline(
            spark,
            PipelineConfig(
                input_path=cfg.input,
                input_format=cfg.input_format,
                output_dir=out_dir,
                slow_ms=cfg.slow_ms,
                bucket=cfg.bucket,
                resume=not args.no_resume and not cfg.in_memory,
            ),
        )
        if cfg.export_enabled:
            if cfg.in_memory:
                # reference caveat: in-memory results are not exportable
                # (config.toml.example:29-34)
                print(
                    "warning: in-memory warehouse — export skipped, nothing persisted",
                    file=sys.stderr,
                )
            else:
                from sqllog_analysis_spark.sinks.writers import export_table, read_sink

                export_table(
                    read_sink(spark, out_dir),
                    cfg.export_format,
                    os.path.join(out_dir, "export"),
                    file_size_bytes=cfg.export_file_size_bytes,
                )
        summary["in_memory"] = cfg.in_memory
        if cfg.config_path:
            summary["config"] = cfg.config_path
        if args.retain_days is not None:
            from sqllog_analysis_spark.sinks.maintenance import expire_partitions

            summary["expired_partitions"] = expire_partitions(
                out_dir, args.retain_days
            )
        if args.compact:
            from sqllog_analysis_spark.sinks.maintenance import compact_sink

            summary["compacted"] = compact_sink(spark, out_dir)
        if args.digest:
            from sqllog_analysis_spark.sinks.writers import read_sink

            summary["workload_digest"] = _digest_rows(
                read_sink(spark, out_dir), args.digest
            )
        print(json.dumps(summary, ensure_ascii=False))
    finally:
        if tmp_ctx is not None:
            tmp_ctx.cleanup()
    return 0


def _digest_rows(records, top_k: int) -> list[list]:
    """The summary's ``workload_digest``: the top-``top_k`` statement shapes
    of a records frame as ``[shape, n, n_timed, total_exec_ms]`` rows."""
    from sqllog_analysis_spark.operators.loganalytics import sql_shape_digest

    return [
        [r["shape"], r["n"], r["n_timed"], r["total_exec_ms"]]
        for r in sql_shape_digest(records, top_k=top_k).collect()
    ]


def _run_follow(
    spark, cfg, out_dir: str, follow_seconds: float, gap: str = "5 minutes"
) -> dict:
    """Streaming mode: drain the input, optionally keep watching, and
    summarize from the written sinks' metadata only (parquet footers for
    records, per-batch metric sidecars for errors — the driver never
    re-reads sink data; a long-lived follow session with millions of
    parse errors summarizes from a handful of tiny JSON files).

    raw input → :func:`stream_sqllog_pipeline` (per-file conversations,
    complete at first sight); transcripts input →
    :func:`stream_transcript_pipeline` (stateful conversation-close
    buffer, full batch parity; conversations quieter than ``gap`` of
    event time land, newer ones stay open until later data arrives)."""
    import glob
    import time

    from sqllog_analysis_spark.sinks.lineage import parquet_lineage
    from sqllog_analysis_spark.streaming.stream_pipeline import (
        read_batch_metrics,
        stream_sqllog_pipeline,
        stream_transcript_pipeline,
    )

    ckpt = os.path.join(out_dir, "_stream_checkpoint")
    if cfg.input_format == "raw":
        writer = stream_sqllog_pipeline(
            spark, cfg.input, out_dir, ckpt, slow_ms=cfg.slow_ms
        )
    else:
        writer = stream_transcript_pipeline(
            spark, cfg.input, out_dir, ckpt, slow_ms=cfg.slow_ms, gap=gap
        )
    q = writer.start()
    try:
        q.processAllAvailable()
        deadline = time.time() + follow_seconds
        while time.time() < deadline:
            time.sleep(min(1.0, max(deadline - time.time(), 0.0)))
            q.processAllAvailable()
    finally:
        q.stop()  # always release the stream thread + checkpoint locks

    rec_root = os.path.join(out_dir, "records_stream")
    lineage = parquet_lineage(rec_root) if os.path.isdir(rec_root) else []
    # sidecars persist across restarts, so a resumed session's summary
    # still covers batches processed by earlier runs
    n_errors = sum(m.get("n_errors", 0) for m in read_batch_metrics(out_dir))
    return {
        "mode": "follow",
        "records_routed": sum(p["row_count"] for p in lineage),
        "parse_errors": n_errors,
        "batches": len(glob.glob(os.path.join(rec_root, "ingest_batch=*"))),
        "checkpoint": ckpt,
    }


if __name__ == "__main__":
    sys.exit(main())
