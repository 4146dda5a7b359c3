"""Follow mode: the batch parse → route → sinks graph under ``readStream``.

The reference is batch-only (SURVEY.md §2.10); its `stream_parse`
(io.rs:82) is streaming only in the bounded-memory sense.  Follow mode
(``python -m sqllog_analysis_spark --follow``) runs the COMPLETE batch
routing graph inside ``foreachBatch`` on micro-batches that hold only
complete conversations: raw-log mode gets that per file
(:func:`stream_sqllog_pipeline`), transcripts mode from the
:func:`closed_conversations` buffer (:func:`stream_transcript_pipeline`).
Each micro-batch lands in exactly-once ``ingest_batch=<id>`` sinks,
written by batch mode's own records and errors writers
(``sinks/writers.py``), so each ``category=/dt=`` directory of a trigger
holds at most ``files_per_partition`` files, as in the batch sink.
``--digest`` reads ``records_stream`` once at the end of the run, as batch
mode reads its records sink; a trigger writes no summary of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sqllog_analysis_spark.schema import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )


def read_sqllog_stream(spark: SparkSession, directory: str) -> DataFrame:
    """Streaming counterpart of sources/logfiles.read_sqllog_dir: a growing
    directory of ``dmsql_*.log`` files becomes a transcripts-shaped stream
    (conv_id = file name, turn_idx = segment byte offset, one row per
    segment).

    Source is Spark's ``binaryFile`` file stream — each NEW file arrives
    exactly once as (path, modificationTime, content) and is segmented
    with the SAME byte-level boundary protocol as the batch reader
    (logfiles.segment_bytes), so routed results on a directory equal the
    batch pipeline's on the same files.  Whole-file rows bound memory at
    the log-rotation size (dmsql logs rotate well under the 2 GiB turn_idx
    limit); the byte-range-splittable batch reader remains the path for
    oversized backfills.

    File-source contract (standard Spark file-stream semantics): a file is
    ingested ONCE, at first sight, with the content it has then — suited
    to rotated/complete log files appearing in the directory, NOT to
    tailing a file that is still being appended (later appends to an
    already-seen path are never re-read; batch mode over the same
    directory would see them).
    """
    import os

    import pandas as pd

    from sqllog_analysis_spark.sources.logfiles import segment_bytes

    raw = (
        spark.readStream.format("binaryFile")
        # binaryFile's fixed schema must be spelled out for streaming use
        .schema("path string, modificationTime timestamp, length long, content binary")
        # discovery parity with logfiles.discover_sqllog_files (app.rs:82-102):
        # dmsql_ prefix, case-insensitive .log extension, non-recursive
        .option("pathGlobFilter", "dmsql_*.[lL][oO][gG]")
        .option("recursiveFileLookup", "false")
        .load(directory)
        .select("path", "modificationTime", "content")
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for t in pdf.itertuples(index=False):
                data = bytes(t.content) if t.content is not None else b""
                if not data:
                    continue  # empty files produce nothing (io.rs:104-107)
                for off, text in segment_bytes(data):
                    rows.append(
                        {
                            "conv_id": os.path.basename(t.path),
                            "turn_idx": off,
                            "role": "log",
                            "text": text,
                            "tool": None,
                            "ts": t.modificationTime,
                        }
                    )
            out = pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
            )
            if len(out):
                out["turn_idx"] = out["turn_idx"].astype("int32")
                out["ts"] = pd.to_datetime(out["ts"]).astype("datetime64[us]")
            yield out

    return raw.mapInPandas(run, schema=TRANSCRIPT_SCHEMA)


def stream_sqllog_pipeline(
    spark: SparkSession,
    directory: str,
    out_dir: str,
    checkpoint_dir: str,
    slow_ms: int = 1000,
):
    """FULL-fidelity continuous ingestion of raw dmsql logs: parse →
    degenerate-conversation rule → route → records/errors sinks, streaming.

    A transcript-parquet stream cannot apply the conversation-level
    degenerate rule per file — a conversation may span files, so no
    micro-batch knows it has seen all of it until
    :func:`closed_conversations` says so.  Raw-log mode has no such
    problem: conv_id IS the file, and the binaryFile
    source delivers each file whole, exactly once.  Every micro-batch
    therefore contains only complete conversations, and running the
    COMPLETE batch routing graph (degenerate rule, error routing,
    sink-contract isolation) inside ``foreachBatch`` yields results
    identical to the batch pipeline over the same files.

    Each micro-batch lands in its own ``ingest_batch=<id>`` directory
    written with mode=overwrite, and the checkpoint assigns batch ids
    once: a reprocessed batch id replaces its own output, never
    duplicates it (exactly-once).
    """
    segments = read_sqllog_stream(spark, directory)
    return (
        segments.writeStream.foreachBatch(_full_graph_batch_writer(out_dir, slow_ms))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def _full_graph_batch_writer(out_dir: str, slow_ms: int):
    """foreachBatch body running the COMPLETE batch routing graph
    (degenerate rule, error routing, sink-contract isolation) on a
    micro-batch of transcript turns, writing the exactly-once
    ``ingest_batch=<id>`` sinks.  Correct ONLY when every conversation in
    the batch is complete — raw-log mode guarantees that per file;
    transcripts mode gets it from :func:`closed_conversations`."""
    import os

    rec_root = os.path.join(out_dir, "records_stream")
    err_root = os.path.join(out_dir, "errors_stream")

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        from sqllog_analysis_spark.operators.routing import split_sink_contract
        from sqllog_analysis_spark.plans.pipeline import downstream, parse_stage
        from sqllog_analysis_spark.sinks.writers import write_errors, write_records

        # parse_stage puts each conversation in one partition, contiguous
        # and in turn order, so the degenerate rule runs inside the parse
        # as in batch mode.  Its width is the micro-batch's partition
        # count, the task count of a parse straight over it; persisted for
        # the batch, so every sink below shares ONE execution of the parse
        # instead of re-running the graph per action
        parsed = parse_stage(
            bdf.sparkSession, bdf,
            target_partitions=max(1, bdf.rdd.getNumPartitions()),
        ).persist()
        g = downstream(bdf.sparkSession, parsed, slow_ms=slow_ms)
        # category_total: route_records' when-chain is closed over
        # CATEGORIES, so the violation predicate is just the ts null check
        writable, contract_bad = split_sink_contract(g["routed"], category_total=True)
        write_records(writable, os.path.join(rec_root, f"ingest_batch={batch_id}"))
        # the error-row count the writer observed on its write job goes to
        # a per-batch sidecar, since JSONL has no footers to read it from
        n_errors = write_errors(
            g["errors"].unionByName(contract_bad),
            os.path.join(err_root, f"ingest_batch={batch_id}"),
        )
        _write_batch_metrics(out_dir, batch_id, n_errors=n_errors)
        parsed.unpersist()

    return write_batch


def closed_conversations(
    transcript_stream: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Stateful conversation-completion buffer (``applyInPandasWithState``
    keyed on conv_id): hold every conversation's turns in state until the
    conversation has gone quiet for ``gap`` of EVENT time, then release
    ALL of its turns into one micro-batch and drop the state.

    This is what gives the transcripts-mode stream full batch parity: a
    parquet conversation may span micro-batches, so no single batch can
    apply the conversation-level degenerate rule (无有效日志行) — but every
    batch this operator EMITS contains only complete conversations, so the
    downstream foreachBatch can run the identical batch routing graph.

    Memory bound: state holds open conversations only — the same bound
    raw-log mode pays per in-flight file.  Late data within the watermark
    still joins its conversation; a turn later than (close + watermark) is
    a new conversation instance, the standard watermark trade-off.

    The state holds a conversation's whole turn list, so a turn key that
    arrives twice (in two files or micro-batches) raises here: the
    parse's per-batch check only sees the copies when one Arrow batch, or
    two adjacent sorted batches, holds both.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    from sqllog_analysis_spark.functions.parse import _duplicate_turn_key

    gap_ms = int(pd.Timedelta(gap).total_seconds() * 1000)

    state_schema = T.StructType(
        [
            T.StructField("turn_idx", T.ArrayType(T.IntegerType())),
            T.StructField("role", T.ArrayType(T.StringType())),
            T.StructField("text", T.ArrayType(T.StringType())),
            T.StructField("tool", T.ArrayType(T.StringType())),
            T.StructField("ts_ms", T.ArrayType(T.LongType())),
            T.StructField("last_ms", T.LongType()),
        ]
    )

    def release(key, pdfs, state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            ti, ro, tx, tl, tm, _last = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": conv_id,
                    "turn_idx": pd.Series(list(ti), dtype="int32"),
                    "role": list(ro),
                    "text": list(tx),
                    "tool": list(tl),
                    "ts": pd.Series(
                        [pd.Timestamp(int(m), unit="ms") for m in tm]
                    ).astype("datetime64[us]"),
                }
            )
            return
        ti, ro, tx, tl, tm = [], [], [], [], []
        for pdf in pdfs:  # Arrow chunks of this batch's group
            ti += [int(x) for x in pdf["turn_idx"]]
            ro += [None if pd.isna(x) else str(x) for x in pdf["role"]]
            tx += [None if pd.isna(x) else str(x) for x in pdf["text"]]
            tl += [None if pd.isna(x) else str(x) for x in pdf["tool"]]
            tm += (
                pd.to_datetime(pdf["ts"])
                .values.astype("datetime64[ms]")
                .astype("int64")
                .tolist()
            )
        if state.exists:
            p = state.get
            ti, ro, tx, tl, tm = (
                list(p[0]) + ti,
                list(p[1]) + ro,
                list(p[2]) + tx,
                list(p[3]) + tl,
                list(p[4]) + tm,
            )
        seen: set = set()
        for t in ti:
            if t in seen:
                _duplicate_turn_key(conv_id, t)
            seen.add(t)
        last = max(tm)
        state.update((ti, ro, tx, tl, tm, last))
        # release when event time passes last activity + gap; the timeout
        # must sit beyond the current watermark or Spark rejects it
        state.setTimeoutTimestamp(
            max(last + gap_ms, state.getCurrentWatermarkMs() + 1)
        )
        return
        yield  # pragma: no cover — makes this a generator on the update path

    from sqllog_analysis_spark.schema import TRANSCRIPT_SCHEMA as _TS

    return (
        transcript_stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            release,
            outputStructType=_TS,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_transcript_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str,
    slow_ms: int = 1000,
    gap: str = "5 minutes",
    watermark: str = "10 seconds",
):
    """FULL-fidelity continuous ingestion of parquet transcripts: the
    batch-parity counterpart of :func:`stream_sqllog_pipeline` for the
    transcripts table input.

    This pipeline trades latency (a conversation's rows land only after it has been quiet for
    ``gap``) for EXACT batch parity: :func:`closed_conversations` buffers
    turns per conversation in state, and each released micro-batch —
    complete conversations only — runs the identical batch routing graph
    (conversation-level degenerate rule, error sink, contract isolation)
    via the shared :func:`_full_graph_batch_writer`.  A degenerate
    conversation SPLIT ACROSS micro-batches therefore yields exactly the
    batch pipeline's single synthetic 无有效日志行 error row, not one per
    batch.
    """
    closed = closed_conversations(
        read_transcript_stream(spark, input_path), gap=gap, watermark=watermark
    )
    return (
        closed.writeStream.foreachBatch(_full_graph_batch_writer(out_dir, slow_ms))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def _write_batch_metrics(out_dir: str, batch_id: int, **metrics) -> None:
    """Per-micro-batch metadata sidecar (``_stream_metrics/batch_<id>.json``)
    — the JSONL-sink analog of parquet footer lineage.  Overwrite per batch
    id, so a reprocessed batch replaces its own metrics (exactly-once, like
    the data sinks)."""
    import json
    import os

    d = os.path.join(out_dir, "_stream_metrics")
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".batch_{batch_id}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"batch_id": batch_id, **metrics}, fh)
    os.replace(tmp, os.path.join(d, f"batch_{batch_id}.json"))


def read_batch_metrics(out_dir: str) -> list[dict]:
    """All committed per-batch metric sidecars (any order)."""
    import glob
    import json
    import os

    out = []
    for f in glob.glob(os.path.join(out_dir, "_stream_metrics", "batch_*.json")):
        with open(f, encoding="utf-8") as fh:
            out.append(json.load(fh))
    return out
