"""One benchmark session: a Spark session, its warm-up and its measured phase.

``run.py`` starts this file as a child process in its own process group
and passes a JSON spec; the session writes its result as JSON to the path
the spec names.  ``setup_s`` counts from the start of this process (before
pyspark is imported) to the end of warm-up.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import proctree  # noqa: E402


# Driver JVM settings of the benchmark, not of the program:
# - C1 only, so JIT compile work settles within the warm-up (README);
# - a fixed 2 GB heap, touched at start, so the tree's peak Pss does not
#   depend on when G1 decides to grow the heap.
DRIVER_MEMORY = "2g"
JVM_OPTS = (
    "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
    f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData"
)


def log(msg: str) -> None:
    print(msg, flush=True)


class Jvm:
    """JIT-compile and GC time of the driver JVM, read over py4j."""

    def __init__(self, spark):
        self._mf = spark._jvm.java.lang.management.ManagementFactory

    def jit_ms(self) -> int:
        return int(self._mf.getCompilationMXBean().getTotalCompilationTime())

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._mf.getGarbageCollectorMXBeans())


def summary_matches(got: dict, want: dict) -> bool:
    return all(got.get(k) == v for k, v in want.items())


def start_spark(spec: dict, cores: int, extra: dict | None = None):
    from sqllog_analysis_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={spec['tmp']} {JVM_OPTS}",
    }
    conf.update(extra or {})
    return get_spark("perfbench", cores=cores, extra_conf=conf)


# --------------------------------------------------------------------- batch


def pipeline_iteration(spark, spec: dict, out_dir: str, target_partitions: int | None = None) -> dict:
    """One ``run_pipeline`` over the workload's input into a fresh output
    directory with ``resume=False``; returns the pipeline's summary."""
    from sqllog_analysis_spark.plans.pipeline import PipelineConfig, run_pipeline

    shutil.rmtree(out_dir, ignore_errors=True)
    cfg = PipelineConfig(
        input_path=spec["input"], output_dir=out_dir, resume=False, target_partitions=target_partitions
    )
    return run_pipeline(spark, cfg)


def timed_iterations(
    spark, jvm: Jvm, spec: dict, tag: str, min_iters: int, seconds: float,
    target_partitions: int | None = None,
) -> list[dict]:
    """Run iterations until ``seconds`` have passed and at least
    ``min_iters`` ran; each is checked against the oracle outside its
    timed region and printed with its wall time, the CPU time of the
    process tree and the driver JVM's JIT/GC time."""
    out_dir = os.path.join(spec["work"], "out")
    pid = os.getpid()
    rows: list[dict] = []
    t_begin = time.perf_counter()
    while len(rows) < min_iters or time.perf_counter() - t_begin < seconds:
        j0, g0 = jvm.jit_ms(), jvm.gc_ms()
        b0, s0 = proctree.host_cpu_ticks()
        c0 = proctree.tree_cpu_s(pid)
        t0 = time.perf_counter()
        try:
            got = pipeline_iteration(spark, spec, out_dir, target_partitions)
            wall = time.perf_counter() - t0
            ok = summary_matches(got, spec["expected"])
        except Exception as exc:  # a failed operation, counted, not fatal
            wall, ok = time.perf_counter() - t0, False
            log(f"{tag} iteration raised: {exc!r}"[:2000])
        cpu = proctree.tree_cpu_s(pid) - c0
        b1, s1 = proctree.host_cpu_ticks()
        steal = (s1 - s0) / max(b1 - b0 + s1 - s0, 1)
        row = {
            "wall_s": wall, "cpu_s": cpu, "jit_ms": jvm.jit_ms() - j0, "gc_ms": jvm.gc_ms() - g0,
            "ok": ok, "steal": steal,
        }
        rows.append(row)
        log(
            f"{tag} iter={len(rows)} wall_s={wall:.3f} cpu_s={cpu:.2f} jvm.jit_ms={row['jit_ms']} "
            f"jvm.gc_ms={row['gc_ms']} steal={steal:.3f} correct={ok}"
        )
    return rows


def run_batch(spec: dict) -> dict:
    pid = os.getpid()
    traced = spec["trace"]
    extra = {}
    if traced:
        os.makedirs(spec["eventlog"], exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": spec["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = start_spark(spec, spec["cores"], extra)
    jvm = Jvm(spark)
    warm = timed_iterations(spark, jvm, spec, "warmup", spec["warmup_iters"], 0)
    if not all(r["ok"] for r in warm):
        raise RuntimeError("warm-up iteration failed; nothing to measure")
    setup_s = time.perf_counter() - T_PROCESS
    log(f"setup_s={setup_s:.3f}")

    if traced:
        import layers

        return layers.trace_batch(spark, jvm, spec)

    with proctree.PeakPss(pid) as mem:
        rows = timed_iterations(spark, jvm, spec, "measure", spec["min_iters"], spec["seconds"])
    spark.stop()

    # times and CPU only of iterations whose output matched the oracle: a
    # wrong result is a failed operation, not a fast one
    good = [r for r in rows if r["ok"]]
    result = {
        "attempted": len(rows),
        "failed": len(rows) - len(good),
        "samples": {"peak_rss_mb": mem.samples},
        "metrics": {"setup_s": setup_s, "peak_rss_mb": mem.peak_mb},
    }
    if good:
        n = spec["expected"]["turns_processed"]
        job_s = statistics.median(r["wall_s"] for r in good)
        result["metrics"].update(
            job_s=job_s,
            turns_per_s=n / job_s,
            cpu_s_per_mturn=statistics.median(r["cpu_s"] for r in good) / (n / 1e6),
        )
        for name in ("job_s", "turns_per_s", "cpu_s_per_mturn"):
            result["samples"][name] = len(good)
    return result


# -------------------------------------------------------------------- follow


def run_follow(spec: dict) -> dict:
    """Closed-loop follow mode: move one slice file into the watched
    directory, wait for ``processAllAvailable()``, then move the next.
    The first slice is the warm-up; the measured phase feeds slices until
    ``seconds`` have passed, then the closing file drains every open
    conversation."""
    import inputs

    from sqllog_analysis_spark.streaming.stream_pipeline import (
        read_batch_metrics,
        stream_transcript_pipeline,
    )

    pid = os.getpid()
    slices, closing = spec["slices"][:-1], spec["slices"][-1]
    watch = os.path.join(spec["work"], "watch")
    out = os.path.join(spec["work"], "out")
    os.makedirs(watch)
    spark = start_spark(spec, spec["cores"])
    jvm = Jvm(spark)
    query = stream_transcript_pipeline(
        spark, watch, out, os.path.join(spec["work"], "checkpoint")
    ).start()
    fed: list[str] = []

    def feed(path: str, tag: str) -> dict:
        j0, g0 = jvm.jit_ms(), jvm.gc_ms()
        n_progress = len(query.recentProgress)
        t0 = time.perf_counter()
        # copy then rename, so the file appears whole in the watched dir
        staged = os.path.join(spec["work"], "staging.parquet")
        shutil.copyfile(path, staged)
        os.rename(staged, os.path.join(watch, os.path.basename(path)))
        query.processAllAvailable()
        wall = time.perf_counter() - t0
        fed.append(path)
        progress = query.recentProgress[n_progress:]
        row = {
            "wall_s": wall,
            "jit_ms": jvm.jit_ms() - j0,
            "gc_ms": jvm.gc_ms() - g0,
            "turns": int(sum(p["numInputRows"] for p in progress)),
            "progress": progress,
        }
        log(
            f"{tag} file={os.path.basename(path)} wall_s={wall:.3f} triggers={len(progress)} "
            f"turns={row['turns']} jvm.jit_ms={row['jit_ms']} jvm.gc_ms={row['gc_ms']}"
        )
        return row

    try:
        warm = feed(slices[0], "warmup")
        setup_s = time.perf_counter() - T_PROCESS
        log(f"setup_s={setup_s:.3f}")
        cpu0 = proctree.tree_cpu_s(pid)
        rows: list[dict] = []
        with proctree.PeakPss(pid) as mem:
            t_begin = time.perf_counter()
            for path in slices[1:]:
                rows.append(feed(path, "measure"))
                if len(rows) >= spec["min_iters"] and time.perf_counter() - t_begin >= spec["seconds"]:
                    break
            rows.append(feed(closing, "closing"))
            feed_wall = time.perf_counter() - t_begin
        cpu_s = proctree.tree_cpu_s(pid) - cpu0
    finally:
        query.stop()

    # totals over every ingest batch against the oracle over the fed rows
    # (the closing conversation stays open, so it adds nothing)
    import pandas as pd

    want = inputs.oracle_summary(pd.concat([inputs.read_rows(p) for p in fed[:-1]]))
    records = spark.read.parquet(os.path.join(out, "records_stream"))
    per_sink = {r["category"]: r["count"] for r in records.groupBy("category").count().collect()}
    got = {
        # every turn the stream read, less the closing file's one turn
        "turns_processed": warm["turns"] + sum(r["turns"] for r in rows) - 1,
        "per_sink": per_sink,
        "records_routed": sum(per_sink.values()),
        "parse_errors": sum(m["n_errors"] for m in read_batch_metrics(out)),
    }
    ok = summary_matches(got, want)
    log(f"follow totals correct={ok} got={json.dumps(got, sort_keys=True)} want={json.dumps(want, sort_keys=True)}")
    spark.stop()

    # only the totals can be checked, so wrong totals fail every file fed
    # and no time is reported
    result = {
        "attempted": len(rows),
        "failed": 0 if ok else len(rows),
        "samples": {"peak_rss_mb": mem.samples},
        "metrics": {"setup_s": setup_s, "peak_rss_mb": mem.peak_mb},
    }
    if ok:
        turns = sum(r["turns"] for r in rows)
        lat = statistics.median(r["wall_s"] for r in rows)
        result["metrics"].update(
            job_s=lat,
            batch_latency_p50_ms=lat * 1000,
            turns_per_s=turns / feed_wall,
            cpu_s_per_mturn=cpu_s / (turns / 1e6),
        )
        result["samples"].update(job_s=len(rows), batch_latency_p50_ms=len(rows))
    if spec["trace"]:
        import layers

        result["metrics"] = {**result["metrics"], **layers.stream_metrics(rows)}
    return result


def main() -> None:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    result = run_follow(spec) if spec["kind"] == "follow" else run_batch(spec)
    with open(spec["result"], "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
