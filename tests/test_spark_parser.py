"""Cross-check the vectorized Spark parser against the pure-Python oracle —
the north rule's 'per-turn text equality under stable ordering' gate.
"""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import norm_cell

from sqllog_analysis_spark import oracle
from sqllog_analysis_spark.functions.parse import parse_batch, parse_transcripts
from sqllog_analysis_spark.schema import PARSED_SCHEMA, TRANSCRIPT_SCHEMA
from sqllog_analysis_spark.sources.transcripts import generate_transcripts

COMPARE_COLS = [
    "conv_id", "turn_idx", "rec_idx", "occurrence_time", "ep", "session",
    "thread", "user", "trx_id", "statement", "appname", "ip", "sql_type",
    "description", "execute_time", "rowcount", "execute_id",
    "error", "error_class", "error_line", "raw", "has_ts",
]


def oracle_frame(df: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for t in df.itertuples():
        recs, errs, has = oracle.parse_turn_text(t.text or "")
        i = 0
        for r in recs:
            rows.append(
                {"conv_id": t.conv_id, "turn_idx": int(t.turn_idx), "rec_idx": i,
                 **r.__dict__, "error": None, "error_class": None,
                 "error_line": None, "raw": None, "has_ts": has}
            )
            i += 1
        for e in errs:
            rows.append(
                {"conv_id": t.conv_id, "turn_idx": int(t.turn_idx), "rec_idx": i,
                 "error": e.error, "error_class": e.error_class,
                 "error_line": e.line, "raw": e.raw, "has_ts": has}
            )
            i += 1
        if i == 0:
            # zero-output turn ⇒ one all-null sentinel row (visible to the
            # conversation-level degenerate rule, never routed)
            rows.append(
                {"conv_id": t.conv_id, "turn_idx": int(t.turn_idx), "rec_idx": 0,
                 "error": None, "error_class": None, "error_line": None,
                 "raw": None, "has_ts": has}
            )
    return (
        pd.DataFrame(rows)
        .reindex(columns=COMPARE_COLS)
        .sort_values(["conv_id", "turn_idx", "rec_idx"])
        .reset_index(drop=True)
    )


def assert_frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert len(got) == len(want), (len(got), len(want))
    for c in COMPARE_COLS:
        gv = [norm_cell(x) for x in got[c]]
        wv = [norm_cell(x) for x in want[c]]
        bad = [i for i in range(len(gv)) if gv[i] != wv[i]]
        assert not bad, (c, bad[:3], [(gv[i], wv[i]) for i in bad[:2]])


@pytest.mark.parametrize("seed", [7, 42])
def test_parse_batch_matches_oracle(seed):
    df = generate_transcripts(2500, seed)
    got = parse_batch(df).sort_values(["conv_id", "turn_idx", "rec_idx"]).reset_index(drop=True)
    assert_frames_equal(got[COMPARE_COLS], oracle_frame(df))


def test_spark_parse_matches_oracle(spark):
    """Full Spark round trip: Arrow in, mapInPandas, Arrow out — partition
    boundaries must not change results."""
    df = generate_transcripts(1500, 11)
    sdf = spark.createDataFrame(df, schema=TRANSCRIPT_SCHEMA).repartition(7)
    got = (
        parse_transcripts(sdf)
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "rec_idx"])
        .reset_index(drop=True)
    )
    assert_frames_equal(got[COMPARE_COLS], oracle_frame(df))


def test_empty_input(spark):
    sdf = spark.createDataFrame([], schema=TRANSCRIPT_SCHEMA)
    assert parse_transcripts(sdf).count() == 0


def test_parse_batch_keeps_sorted_input_order():
    """The parse stage feeds each batch sorted by (conv_id, turn_idx);
    parse_batch emits rows in (source row, rec_idx) order, so its output
    is ALREADY sorted by (conv_id, turn_idx, rec_idx) — no sort needed —
    with pinned dtypes and oracle values, on a corpus with multi-record
    and slow-path turns interleaved with fast-path ones."""
    df = (
        generate_transcripts(2500, 42)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    got = parse_batch(df)
    keyed = got.sort_values(
        ["conv_id", "turn_idx", "rec_idx"], kind="stable"
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, keyed)
    assert list(got.columns) == [f.name for f in PARSED_SCHEMA.fields]
    dtypes = got.dtypes.astype(str).to_dict()
    assert {c: dtypes[c] for c in ("turn_idx", "rec_idx", "ep", "has_ts")} == {
        "turn_idx": "int32", "rec_idx": "int32", "ep": "Int32", "has_ts": "bool",
    }
    for c in ("execute_time", "rowcount", "execute_id", "error_line"):
        assert dtypes[c] == "Int64", c
    assert_frames_equal(got[COMPARE_COLS], oracle_frame(df))


def test_spark_parse_rejects_duplicate_turn_key_in_unsorted_input(spark):
    """Follow mode parses micro-batches as they arrive — no exchange, no
    sort.  A duplicated turn in SHUFFLED input must still fail loudly, not
    emit the turn twice."""
    df = generate_transcripts(200, 5)
    dup = (
        pd.concat([df, df.iloc[[17]]], ignore_index=True)
        .sample(frac=1.0, random_state=3)
        .reset_index(drop=True)
    )
    sdf = spark.createDataFrame(dup, schema=TRANSCRIPT_SCHEMA).coalesce(1)
    with pytest.raises(Exception, match="duplicate turn key"):
        parse_transcripts(sdf).collect()


def test_spark_parse_rejects_duplicate_turn_key_across_arrow_batches(spark):
    """The parse stage's sort puts the two copies of a duplicated turn key
    next to each other; when they straddle an Arrow batch boundary, each
    batch alone is unique, so the partition iterator must carry the last
    key of one batch into the next."""
    from sqllog_analysis_spark.plans.pipeline import parse_stage

    df = generate_transcripts(40, 5).sort_values(["conv_id", "turn_idx"])
    df = df[df["conv_id"] == df["conv_id"].iloc[0]].head(4)
    # sorted: turn 0, 1, 2, 2', 3 → batches [0, 1, 2] | [2', 3]
    dup = pd.concat([df, df.iloc[[2]]], ignore_index=True)
    assert len(dup) == 5 and dup["turn_idx"].nunique() == 4
    sdf = spark.createDataFrame(dup, schema=TRANSCRIPT_SCHEMA)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        # the same boundary without the duplicate parses cleanly
        clean = spark.createDataFrame(df, schema=TRANSCRIPT_SCHEMA)
        assert parse_stage(spark, clean, target_partitions=1).count() >= 4
        with pytest.raises(Exception, match="duplicate turn key"):
            parse_stage(spark, sdf, target_partitions=1).collect()
    finally:
        spark.conf.set(key, old)


def test_pint_matches_oracle_parse_int_strict():
    """The fused fast path's scalar int coercion must agree with the
    oracle's Rust-parse mirror on every tier: plain, zero-padded,
    overflow at both widths, empty/sign/space, Unicode digits."""
    from sqllog_analysis_spark.functions.parse import _pint

    cases = [
        "0", "7", "007", str(oracle.I32_MAX), str(oracle.I32_MAX + 1),
        str(oracle.I64_MAX), str(oracle.I64_MAX + 1), "0" * 30,
        "0" * 30 + "5", "1" * 25, "", "-1", "+1", " 1", "1 ", "1_0",
        "١٢٣", "5.0", "١" * 20, "9" * 18, "9" * 19, "0" * 18 + "9" * 19,
    ]
    for max_val in (oracle.I32_MAX, oracle.I64_MAX):
        for s in cases:
            assert _pint(s, max_val) == oracle._parse_int_strict(s, max_val), (
                s, max_val
            )
    assert _pint(None, oracle.I64_MAX) is None


def test_duplicate_turn_key_fails_loudly():
    """parse_batch's per-batch check: one Arrow batch that holds a
    (conv_id, turn_idx) twice, wherever the copies sit, raises instead of
    emitting the turn's rows twice (the input contract guarantees
    uniqueness — this pins the failure mode when it's violated)."""
    df = generate_transcripts(20, 5)
    dup = pd.concat([df, df.iloc[[0]]], ignore_index=True)
    with pytest.raises(ValueError, match="duplicate turn key"):
        parse_batch(dup)
