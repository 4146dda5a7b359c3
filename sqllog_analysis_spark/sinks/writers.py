"""Fan-out sink writes (SURVEY.md §2.4 K1-K9, Spark-native).

- Category sinks: ONE write partitioned by (category, dt) — the physical
  fan-out happens inside the write, so the routed DataFrame is scanned
  once, not once per category (the reference's per-file temp-DB + merge
  dance, duckdb_impl.rs:349-596, collapses into task-isolated partition
  files + an atomic directory commit).
- Sink format is DECIDED BY THE RUNTIME PROBE (sinks/iceberg_probe.py):
  Iceberg when the catalog + jar are present (snapshot-atomic commits,
  sort-order metadata), parquet otherwise.  SURVEY §7.1.
- parse_errors: JSONL with the reference's {path, line, error, raw} shape
  (error_writer.rs:147-152).
- Exports: CSV / JSON of any sink table (duckdb_impl.rs:292-317), format
  string dispatched like ExportFormat (database/types.rs:21-61).

Scale note (round-3 fix): the routed stream arrives hash-partitioned by
conv_id, so EVERY task holds rows of nearly every (category, dt) combo —
writing directly from that layout produces tasks × combos files (measured:
3,356 files for a 26-day corpus at 32 tasks; at 10^12 turns it is
millions), which bloats the commit protocol, the lineage walk, and every
downstream scan.  The writer therefore re-shuffles on
(category, dt, salt(conv_id)) first: each partition directory is written
by a BOUNDED number of tasks (≤ files_per_partition), and a hot
(chat, busy-day) combo still spreads over that many tasks instead of
funnelling through one (operators/skew.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from sqllog_analysis_spark.operators.skew import salted_repartition
from sqllog_analysis_spark.sinks.iceberg_probe import sink_format


# every routed record carries these error-path columns as all-NULL (the
# router filters errors out) — drop them before the sink exchange so they
# ride neither the shuffle nor the sink files
_ERROR_PATH_COLS = ("error", "error_class", "error_line", "raw")

# in-file sort of every records-sink file — batch write, follow write and
# compaction alike (see write_category_sinks)
RECORDS_SORT = ("session", "thread", "trx_id")

# rows below this threshold skip the salted exchange.  Default 0 = never
# skip: interleaved best-of-3 A/B at 200k turns (round 4, after the
# error-path column drop shrank the exchanged bytes) measured salted 5.88 s
# vs skipped 6.14 s — the second shuffle costs NOTHING measurable even at
# toy scale, so the scale-safe bounded-files layout is unconditional.  The
# knob remains for latency-sensitive tiny-input runs that prefer one job.
SALT_MIN_ROWS = 0


def records_frame(routed: DataFrame) -> DataFrame:
    """The rows the records sink writes: routed records without the
    error-path columns, plus the ``dt`` partition column."""
    return routed.drop(*_ERROR_PATH_COLS).withColumn("dt", F.to_date("ts"))


def write_category_sinks(
    routed: DataFrame,
    out_dir: str,
    fmt: str | None = None,
    files_per_partition: int = 4,
    iceberg_table: str | None = None,
    row_count_hint: int | None = None,
    salt_min_rows: int = SALT_MIN_ROWS,
) -> None:
    """One pass, partitioned fan-out: <out_dir>/records/category=<c>/dt=<d>/.

    Rows are sorted WITHIN each task partition by (session, thread, trx_id)
    before the write — the Spark analog of the reference's deferred indexes
    on exactly those columns (duckdb_impl.rs:124-136, 663-667): parquet
    row-group min/max stats on a sorted column give data skipping for
    point/range lookups.

    ``fmt=None`` asks the runtime probe; 'iceberg' writes via the V2
    ``writeTo`` API into ``iceberg_table`` (snapshot-atomic replace),
    'parquet' writes the directory layout above.

    ``row_count_hint`` (e.g. the pipeline's observed input count) makes the
    bounded-files exchange ADAPTIVE: below ``salt_min_rows`` the salted
    repartition is skipped — a small input cannot amortize a second
    full-data shuffle, and its worst-case file count (tasks × combos) is
    small anyway.  With no hint the exchange always runs (the safe default
    for the 100 TB case).
    """
    if fmt is None:
        fmt = sink_format(routed.sparkSession)
    out = records_frame(routed)
    if row_count_hint is None or row_count_hint >= salt_min_rows:
        # bounded-files / bounded-task-size exchange (see module docstring).
        # Salt on a row-unique tuple: a mega-CONVERSATION spreads over the
        # bucket width too (the write needs no per-conversation locality),
        # while retries stay deterministic (content-derived, not rand()).
        out = salted_repartition(
            out,
            ["category", "dt"],
            salt_buckets=files_per_partition,
            salt_on=("conv_id", "turn_idx", "rec_idx"),
        )
    # partition columns lead the sort so the file writer's required
    # ordering (category, dt) is already satisfied and it does NOT
    # inject its own sort on top (which would discard ours)
    out = out.sortWithinPartitions("category", "dt", *RECORDS_SORT)
    if fmt == "iceberg":
        (
            out.writeTo(iceberg_table or "sinks.records")
            .using("iceberg")
            .partitionedBy(F.col("category"), F.col("dt"))
            .createOrReplace()
        )
    elif fmt == "parquet":
        (
            out.write.mode("overwrite")
            .partitionBy("category", "dt")
            .parquet(os.path.join(out_dir, "records"))
        )
    else:
        raise ValueError(f"unsupported sink format: {fmt}")


def write_error_sink(errors: DataFrame, out_dir: str) -> None:
    """JSONL parse_errors sink (K6)."""
    errors.write.mode("overwrite").json(os.path.join(out_dir, "parse_errors"))


def write_aggregates(
    sink_counts: DataFrame, conv_buckets: DataFrame | None, out_dir: str
) -> None:
    """Aggregate writes.  ``conv_buckets=None`` means the caller already
    wrote conv_buckets.  With both frames given, the two jobs run
    concurrently from driver threads so their sink scans overlap.
    ``run_pipeline`` no longer calls this (it writes sink_counts on the
    driver from the records footers); the benchmark's per-layer probe
    (perfbench/layers.py) still does."""
    from concurrent.futures import ThreadPoolExecutor

    jobs = [
        lambda: sink_counts.write.mode("overwrite").parquet(
            os.path.join(out_dir, "sink_counts")
        ),
    ]
    if conv_buckets is not None:
        jobs.append(
            lambda: conv_buckets.write.mode("overwrite").parquet(
                os.path.join(out_dir, "conv_buckets")
            )
        )
    with ThreadPoolExecutor(max_workers=2) as ex:
        for f in [ex.submit(j) for j in jobs]:
            f.result()


def export_table(
    df: DataFrame, fmt: str, path: str, file_size_bytes: int | None = None
) -> None:
    """CSV/JSON export dispatch (K7-K9). Case-insensitive like
    ExportFormat::FromStr; unknown format raises ValueError.

    ``file_size_bytes`` caps the approximate size of each output file.
    The reference VALIDATES export.file_size_bytes (config.rs:298-308,
    '不能为 0') but no code outside config.rs ever consumes it — the graft
    implements the evidently intended behavior: estimate bytes/row from a
    bounded sample of the serialized form, then let the writer roll files
    via ``maxRecordsPerFile`` (per-task, no extra shuffle)."""
    f = fmt.strip().lower()
    if f not in ("csv", "json"):
        raise ValueError(f"unsupported export format: {fmt}")
    w = df.write.mode("overwrite")
    if file_size_bytes:
        sample = df.limit(256)
        ser = (
            sample.select(F.to_csv(F.struct(*df.columns)).alias("s"))
            if f == "csv"
            else sample.select(F.to_json(F.struct(*df.columns)).alias("s"))
        )
        # octet_length, not length: the estimate must count UTF-8 BYTES
        # (multibyte text is 2-3x its character count on disk)
        stats = ser.agg(
            F.avg(F.octet_length("s")).alias("avg_len"), F.count("*").alias("n")
        ).collect()[0]
        if stats["n"]:
            per_row = float(stats["avg_len"]) + 1  # + newline
            w = w.option(
                "maxRecordsPerFile", max(1, int(file_size_bytes // per_row))
            )
    if f == "csv":
        w.option("header", True).csv(path)
    else:
        w.json(path)


def read_sink(spark: SparkSession, out_dir: str, category: str | None = None) -> DataFrame:
    df = spark.read.parquet(os.path.join(out_dir, "records"))
    return df.filter(F.col("category") == category) if category else df
