"""Per-layer metrics of a traced session.

The probes call the package's public functions from outside, in the order
``run_pipeline`` calls them, and time each call.  A probe that ends in a
``noop`` write (``df.write.format("noop")``) runs a layer's plan without a
sink.  Every probe runs under its own Spark job group, so the event log
that only the traced session writes attributes tasks and shuffle bytes to
it.  The spans are kept in memory and returned with the result.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

# Spark's Arrow batch size for the parse UDF (session.py)
ARROW_BATCH_ROWS = 20_000


class Spans:
    """Named wall-clock spans, each run under a Spark job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.s: dict[str, float] = {}

    def run(self, name: str, fn, *args, **kwargs):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.s[name] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_files(path: str, suffix: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", f"*{suffix}"), recursive=True)


def python_parse_s(input_path: str) -> tuple[float, int]:
    """Thread CPU seconds of ``parse_batch`` in this process over the
    workload's rows in (conv_id, turn_idx) order, in Arrow-batch chunks."""
    from sqllog_analysis_spark.functions.parse import parse_batch

    pdf = pq.read_table(input_path).to_pandas()
    pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)
    pdf["turn_seq"] = pdf.groupby("conv_id").cumcount() + 1
    cols = ["conv_id", "turn_idx", "role", "tool", "ts", "text", "turn_seq"]
    t0 = time.thread_time()
    for lo in range(0, len(pdf), ARROW_BATCH_ROWS):
        parse_batch(pdf.iloc[lo : lo + ARROW_BATCH_ROWS][cols].reset_index(drop=True), passthrough=["turn_seq"])
    return time.thread_time() - t0, len(pdf)


def probe_pipeline(spark, spec: dict, spans: Spans) -> dict:
    """The stages of ``run_pipeline``, one at a time, chains sequential."""
    from pyspark.sql import functions as F

    from sqllog_analysis_spark.operators.aggregates import conv_buckets
    from sqllog_analysis_spark.operators.routing import split_sink_contract
    from sqllog_analysis_spark.plans.pipeline import build_staged, parse_stage
    from sqllog_analysis_spark.sinks.lineage import jsonl_lineage, parquet_lineage
    from sqllog_analysis_spark.sinks.manifest import Manifest
    from sqllog_analysis_spark.sinks.writers import (
        write_aggregates,
        write_category_sinks,
        write_error_sink,
    )

    src = spec["input"]
    out = os.path.join(spec["work"], "probe")
    shutil.rmtree(out, ignore_errors=True)
    stage_dir = os.path.join(out, "staged_parsed")
    manifest = Manifest(os.path.join(out, "_manifest"))

    spans.run("scan", noop, spark.read.parquet(src))
    spans.run("parse_stage", noop, parse_stage(spark, spark.read.parquet(src)))
    g = spans.run("stage", build_staged, spark, spark.read.parquet(src), stage_dir)
    spans.run("enrich_route", noop, g["routed"])
    g["degen"].persist()
    g["error_rows"].persist()
    spans.run("degen", g["degen"].count)
    writable, contract_bad = split_sink_contract(g["routed"], category_total=True)
    n_turns = spec["expected"]["turns_processed"]

    def lineage(stage: str, rows: list[dict]) -> None:
        manifest.commit(stage, "probe", row_count=len(rows), partitions=rows)

    def aggregates() -> None:
        cb = conv_buckets(spark.read.parquet(os.path.join(out, "records")))
        cb.write.mode("overwrite").parquet(os.path.join(out, "conv_buckets"))
        sc_src = spark.read.parquet(os.path.join(out, "conv_buckets"))
        write_aggregates(sc_src.groupBy("category").agg(F.sum("n").alias("n")), None, out)

    t0 = time.perf_counter()
    spans.run("records", write_category_sinks, writable, out, row_count_hint=n_turns)
    spans.run("lineage_records", lambda: lineage("records", parquet_lineage(os.path.join(out, "records"))))
    spans.run("aggregates", aggregates)
    spans.run("lineage_aggregates", lambda: lineage("aggregates", parquet_lineage(os.path.join(out, "sink_counts"))))
    chain_records = time.perf_counter() - t0
    t0 = time.perf_counter()
    spans.run("errors", write_error_sink, g["errors"].unionByName(contract_bad), out)
    spans.run("lineage_errors", lambda: lineage("parse_errors", jsonl_lineage(os.path.join(out, "parse_errors"))))
    chain_errors = time.perf_counter() - t0
    g["degen"].unpersist()
    g["error_rows"].unpersist()

    # outputs of the probe run, checked like an iteration's
    error_files = dir_files(os.path.join(out, "parse_errors"), ".json")
    n_errors = 0
    for f in error_files:
        with open(f, "rb") as fh:
            n_errors += sum(1 for _ in fh)
    counts = {
        r["category"]: r["n"]
        for r in pq.read_table(os.path.join(out, "sink_counts")).to_pylist()
    }
    want = spec["expected"]
    ok = counts == want["per_sink"] and n_errors == want["parse_errors"]
    record_files = dir_files(os.path.join(out, "records"), ".parquet")
    return {
        "ok": ok,
        "chain_records_s": chain_records,
        "chain_errors_s": chain_errors,
        "bytes.staged": sum(os.path.getsize(f) for f in dir_files(stage_dir, ".parquet")),
        "bytes.records": sum(os.path.getsize(f) for f in record_files),
        "files.records": len(record_files),
        "rows.errors": n_errors,
    }


def read_event_log(eventlog_dir: str) -> tuple[dict, list[dict]]:
    """(job id → (group, submission ms, stage ids), task-end records)."""
    jobs, tasks = {}, []
    for path in glob.glob(os.path.join(eventlog_dir, "*")):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    break  # the live log's last line may be half written
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submitted_ms": ev["Submission Time"],
                        "stages": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "ms": info["Finish Time"] - info["Launch Time"],
                            "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                            "shuffle_read": sum(
                                (m.get("Shuffle Read Metrics") or {}).get(k, 0)
                                for k in ("Remote Bytes Read", "Local Bytes Read")
                            ),
                        }
                    )
    return jobs, tasks


def event_log_metrics(eventlog_dir: str, iter_window_ms: tuple[float, float], n_iters: int) -> dict:
    jobs, tasks = read_event_log(eventlog_dir)

    def stages(pred) -> set:
        return {s for j in jobs.values() if pred(j) for s in j["stages"]}

    in_group = lambda g: stages(lambda j: j["group"] == g)  # noqa: E731
    lo, hi = iter_window_ms
    iter_stages = stages(lambda j: lo <= j["submitted_ms"] <= hi)
    parse_stages = in_group("parse_stage")
    # the parse runs in the tasks that read the conv_id exchange
    parse_ms = [t["ms"] for t in tasks if t["stage"] in parse_stages and t["shuffle_read"] > 0]
    shuffle = lambda st: sum(t["shuffle_write"] for t in tasks if t["stage"] in st)  # noqa: E731
    return {
        "shuffle.write_bytes.iteration": shuffle(iter_stages) / n_iters,
        "shuffle.write_bytes.parse": shuffle(parse_stages),
        "shuffle.write_bytes.sinks": shuffle(in_group("records")),
        "tasks.parse_max_over_p50": max(parse_ms) / statistics.median(parse_ms),
        "tasks.parse_count": len(parse_ms),
    }


def trace_batch(spark, jvm, spec: dict) -> dict:
    import bench_session

    # the local[4] default of run_pipeline, pinned for the local[1] run too
    partitions = 4 * spec["cores"]
    t_lo = time.time() * 1000
    rows = bench_session.timed_iterations(spark, jvm, spec, "traced", 2, 0, partitions)
    t_hi = time.time() * 1000
    good = [r for r in rows if r["ok"]]
    if not good:
        return {"attempted": len(rows), "failed": len(rows), "metrics": {}}
    job_s = statistics.median(r["wall_s"] for r in good)

    spans = Spans(spark)
    probe = probe_pipeline(spark, spec, spans)
    python_s, n_py = python_parse_s(spec["input"])
    s = spans.s
    cores = spec["cores"]
    m = {
        "trace.job_s": job_s,
        "jvm.jit_ms": statistics.median(r["jit_ms"] for r in good),
        "jvm.gc_ms": statistics.median(r["gc_ms"] for r in good),
        "sources.scan_s": s["scan"],
        "pipeline.parse_stage_s": s["parse_stage"],
        "parse.python_s": python_s,
        "parse.turns_per_core_s": n_py / python_s,
        "pipeline.exchange_arrow_s": s["parse_stage"] - s["scan"] - python_s / cores,
        "pipeline.stage_write_s": s["stage"] - s["parse_stage"],
        "bytes.staged": probe["bytes.staged"],
        "routing.enrich_route_s": s["enrich_route"],
        "pipeline.degen_s": s["degen"],
        "writers.records_s": s["records"],
        "writers.records_self_s": s["records"] - s["enrich_route"],
        "writers.errors_s": s["errors"],
        "bytes.records": probe["bytes.records"],
        "files.records": probe["files.records"],
        "rows.errors": probe["rows.errors"],
        "aggregates.s": s["aggregates"],
        "lineage.s": s["lineage_records"] + s["lineage_aggregates"] + s["lineage_errors"],
        "pipeline.chain_records_s": probe["chain_records_s"],
        "pipeline.chain_errors_s": probe["chain_errors_s"],
    }
    # run_pipeline runs the two chains concurrently after the staged parse
    m["pipeline.critical_path_s"] = s["stage"] + s["degen"] + max(
        probe["chain_records_s"], probe["chain_errors_s"]
    )
    m["pipeline.unaccounted_s"] = job_s - m["pipeline.critical_path_s"]
    ev = event_log_metrics(spec["eventlog"], (t_lo, t_hi), len(rows))
    m.update({k: v for k, v in ev.items() if k != "tasks.parse_count"})

    # single-core baseline in the same (already warm) JVM; the new
    # context's Python worker is started and warmed by a parse of one
    # shard before the timed iteration
    from sqllog_analysis_spark.plans.pipeline import parse_stage

    spark.stop()
    spark1 = bench_session.start_spark(spec, 1)
    shard = sorted(dir_files(spec["input"], ".parquet"))[0]
    noop(parse_stage(spark1, spark1.read.parquet(shard), target_partitions=partitions))
    one = bench_session.timed_iterations(spark1, bench_session.Jvm(spark1), spec, "local[1]", 1, 0, partitions)
    spark1.stop()
    if one[0]["ok"]:
        m["pipeline.scaling_eff_1to4"] = one[0]["wall_s"] / job_s / 4

    n = spec["expected"]["turns_processed"]
    bases = {
        "parse.turns_per_core_s": f"{n_py} turns / {python_s:.3f} s of one thread's CPU",
        "pipeline.exchange_arrow_s": f"parse_stage_s - scan_s - python_s / {cores} cores",
        "writers.records_self_s": "writers.records_s - routing.enrich_route_s",
        "pipeline.critical_path_s": "stage (parse + staged write) + degen + max(chain_records, chain_errors)",
        "pipeline.unaccounted_s": "trace.job_s - pipeline.critical_path_s",
        "tasks.parse_max_over_p50": f"over {ev['tasks.parse_count']} parse tasks",
        "shuffle.write_bytes.iteration": f"mean over {len(rows)} traced iterations",
        "pipeline.scaling_eff_1to4": (
            f"job_s local[1] {one[0]['wall_s']:.3f} s / local[4] {job_s:.3f} s / 4, "
            f"target_partitions={partitions} in both"
        ),
        "trace.job_s": f"median of {len(good)} iterations, {n} turns each, event log on",
    }
    checks = [r["ok"] for r in rows] + [probe["ok"], one[0]["ok"]]
    return {
        "attempted": len(checks),
        "failed": sum(not ok for ok in checks),
        "bases": bases,
        "metrics": m,
    }


def stream_metrics(rows: list[dict]) -> dict:
    """Follow-mode layer metrics from ``StreamingQuery.recentProgress``."""
    progress = [p for r in rows for p in r["progress"]]

    def med(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) for p in progress)

    state = [op for p in progress for op in p.get("stateOperators", [])]
    return {
        "stream.trigger_ms": med("triggerExecution"),
        "stream.add_batch_ms": med("addBatch"),
        "stream.planning_ms": med("queryPlanning"),
        "stream.wal_commit_ms": med("walCommit"),
        "stream.triggers_per_file": len(progress) / len(rows),
        "stream.state_rows": max((op["numRowsTotal"] for op in state), default=0),
        "stream.state_bytes": max((op["memoryUsedBytes"] for op in state), default=0),
    }
