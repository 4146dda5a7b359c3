"""Fan-out sink writes (SURVEY.md §2.4 K1-K9, Spark-native).

- One records writer and one errors writer, shared by batch mode
  (``<out>/records``, ``<out>/parse_errors``) and follow mode
  (``records_stream/ingest_batch=<id>``, ``errors_stream/ingest_batch=<id>``),
  as the reference sends every parsed record through one loader and every
  failure through one JSONL writer (duckdb_impl.rs:139-251,
  error_writer.rs:147-152).
- Records: ONE parquet write partitioned by (category, dt) — the physical
  fan-out happens inside the write, so the routed DataFrame is scanned
  once, not once per category (the reference's per-file temp-DB + merge
  dance, duckdb_impl.rs:349-596, collapses into task-isolated partition
  files + an atomic directory commit).  Every reader of the sink — resume
  lineage, ``--export``, ``--digest``, compaction and retention — reads
  this parquet layout.
- Errors: JSONL with the reference's {path, line, error, raw} shape
  (error_writer.rs:147-152), its row count taken by an ``observe()`` on
  the write job (JSONL has no footers).
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
funnelling through one (operators/skew.py).  Follow mode gets the same
bound per ``ingest_batch=`` directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from sqllog_analysis_spark.operators.skew import salted_repartition


# every routed record carries these error-path columns as all-NULL (the
# router filters errors out) — drop them before the sink exchange so they
# ride neither the shuffle nor the sink files
_ERROR_PATH_COLS = ("error", "error_class", "error_line", "raw")

# in-file sort of every records-sink file — batch write, follow write and
# compaction alike (see write_records)
RECORDS_SORT = ("session", "thread", "trx_id")


def records_frame(routed: DataFrame) -> DataFrame:
    """The rows the records sink writes: routed records without the
    error-path columns, plus the ``dt`` partition column."""
    return routed.drop(*_ERROR_PATH_COLS).withColumn("dt", F.to_date("ts"))


def write_records(routed: DataFrame, path: str, files_per_partition: int = 4) -> None:
    """One pass, partitioned fan-out: <path>/category=<c>/dt=<d>/.

    Rows are sorted WITHIN each task partition by (session, thread, trx_id)
    before the write — the Spark analog of the reference's deferred indexes
    on exactly those columns (duckdb_impl.rs:124-136, 663-667): parquet
    row-group min/max stats on a sorted column give data skipping for
    point/range lookups.
    """
    # bounded-files / bounded-task-size exchange (see module docstring).
    # Salt on a row-unique tuple: a mega-CONVERSATION spreads over the
    # bucket width too (the write needs no per-conversation locality),
    # while retries stay deterministic (content-derived, not rand()).
    out = salted_repartition(
        records_frame(routed),
        ["category", "dt"],
        salt_buckets=files_per_partition,
        salt_on=("conv_id", "turn_idx", "rec_idx"),
    )
    # partition columns lead the sort so the file writer's required
    # ordering (category, dt) is already satisfied and it does NOT
    # inject its own sort on top (which would discard ours)
    (
        out.sortWithinPartitions("category", "dt", *RECORDS_SORT)
        .write.mode("overwrite")
        .partitionBy("category", "dt")
        .parquet(path)
    )


def write_errors(errors: DataFrame, path: str) -> int:
    """JSONL error sink (K6) at ``path``; returns the rows written, counted
    by an ``observe()`` on the write job itself (zero extra jobs)."""
    obs = Observation()
    errors.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").json(path)
    return int(obs.get["n"])


def write_category_sinks(
    routed: DataFrame,
    out_dir: str,
    files_per_partition: int = 4,
    row_count_hint: int | None = None,
) -> None:
    """:func:`write_records` into the batch layout, ``<out_dir>/records``.
    ``row_count_hint`` is unused: the benchmark's per-layer probe
    (perfbench/layers.py) still passes it."""
    write_records(routed, os.path.join(out_dir, "records"), files_per_partition)


def write_error_sink(errors: DataFrame, out_dir: str) -> None:
    """:func:`write_errors` into the batch layout, ``<out_dir>/parse_errors``."""
    write_errors(errors, os.path.join(out_dir, "parse_errors"))


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
