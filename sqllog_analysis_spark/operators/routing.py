"""Rule-based fan-out routing (SURVEY.md §2.3 R1 generalized).

The reference routes every flushed segment to exactly one of two sinks
(parsed → DuckDB, error → JSONL; parser.rs:282-305).  The graft extends
this to 4+1 categories with a single ``when()`` chain — one JVM-side,
codegen-friendly pass, no UDF:

  priority: error  (Dameng-style ``ERR[-70xx]`` code in the description)
          > slow_query (execute_time ≥ threshold)
          > tool_call  (``TOOL_CALL: name(...)`` marker)
          > chat       (everything else)

Parse failures go to the ``parse_errors`` sink with the reference's
{path, line, error, raw} shape (error_writer.rs:147-152).  The
conversation-level degenerate-input rule (io.rs:147-167) is not applied
here: it runs inside the parse (functions/parse.py ``_by_conversation``),
where each conversation is already contiguous in one partition, so the
parsed rows this module sees already hold the rule's verdict and no join,
aggregate or union is spent on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

ERR_CODE_RE = r"ERR\[(-?\d+)\]"
TOOL_CALL_RE = r"TOOL_CALL: (\w+)\("


def route_records(parsed: DataFrame, slow_ms: int = 1000) -> DataFrame:
    """Add ``category`` (+ extracted ``err_code`` / ``tool_called``) to
    successfully parsed rows.  Pure column expressions → whole-stage codegen.
    """
    # a record is a row with no error and a timestamp; parse_stage's output
    # has no sentinel rows (turns that produced neither), so the
    # occurrence_time guard drops nothing there
    rec = parsed.filter(
        F.col("error").isNull() & F.col("occurrence_time").isNotNull()
    )
    err_code = F.regexp_extract("description", ERR_CODE_RE, 1)
    tool_called = F.regexp_extract("description", TOOL_CALL_RE, 1)
    return (
        rec.withColumn("err_code", F.when(err_code != "", err_code.cast("int")))
        .withColumn("tool_called", F.when(tool_called != "", tool_called))
        .withColumn(
            "category",
            F.when(F.col("err_code").isNotNull(), "error")
            .when(F.col("execute_time") >= slow_ms, "slow_query")
            .when(F.col("tool_called").isNotNull(), "tool_call")
            .otherwise("chat"),
        )
    )


# ---------------------------------------------------------------------------
# Sink-write isolation (SURVEY §2.3 R2): the reference logs and SKIPS a
# failed insert batch and keeps loading (duckdb_impl.rs:475-488).  Spark's
# task-retry covers transient failures; the analog of a *data-shaped* insert
# failure is a row violating the sink's write contract.  Instead of letting
# one poison row fail the whole stage, rows failing the contract are split
# off DECLARATIVELY before the write and routed to the error sink — the
# batch-skip semantics at row granularity, with zero extra passes (both
# branches share the routed scan).
# ---------------------------------------------------------------------------

SINK_CONTRACT_ERROR = "写入约束错误"  # sink-contract violation (insert-failure analog)


def sink_contract(routed: DataFrame, category_total: bool = False) -> "F.Column":
    """The records sink's write contract as one boolean column: a known
    category and a partitionable timestamp (the sink layout depends on
    exactly these).  A null conversation key never reaches this point:
    the parse rejects it (functions/parse.py).

    ``category_total=True`` (r6 optimization) asserts the caller's
    ``category`` column is a CLOSED when-chain over ``CATEGORIES`` (true
    for :func:`route_records` — pinned by
    tests/test_pipeline.py::test_route_records_category_is_total), so the
    set-membership term is statically TRUE and is dropped.  This matters
    for the pipeline's error chain: the membership test references the
    regexp-derived ``category`` expression, so pushing the violation
    filter toward the scan would otherwise re-evaluate the whole
    enrich/route expression chain for EVERY row of a second full pass;
    the remaining ts null check pushes down to the parquet scan as a cheap
    native predicate instead."""
    from sqllog_analysis_spark.schema import CATEGORIES

    ok = F.col("ts").isNotNull()
    if not category_total:
        ok = F.col("category").isin(list(CATEGORIES)) & ok
    return F.coalesce(ok, F.lit(False))


def split_sink_contract(
    routed: DataFrame, category_total: bool = False
) -> tuple[DataFrame, DataFrame]:
    """(writable, violations) — violations carry the error-sink shape
    {path, line, error, raw} so they append to parse_errors directly."""
    ok = sink_contract(routed, category_total=category_total)
    good = routed.filter(ok)
    bad = routed.filter(~ok).select(
        F.col("conv_id").alias("path"),
        F.coalesce(F.col("turn_idx").cast("long"), F.lit(0).cast("long")).alias(
            "line"
        ),
        F.concat(
            F.lit(f"{SINK_CONTRACT_ERROR}: category="),
            F.coalesce(F.col("category"), F.lit("NULL")),
            F.lit(" ts="),
            F.coalesce(F.col("ts").cast("string"), F.lit("NULL")),
        ).alias("error"),
        F.coalesce(F.col("description"), F.lit("")).alias("raw"),
    )
    return good, bad
