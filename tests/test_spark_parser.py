"""Cross-check the vectorized Spark parser against the pure-Python oracle —
the north rule's 'per-turn text equality under stable ordering' gate.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import types as T

from tests.conftest import norm_cell

from sqllog_analysis_spark import oracle
from sqllog_analysis_spark.functions.parse import parse_batch, parse_transcripts
from sqllog_analysis_spark.plans.pipeline import parse_stage
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


_RECORD_COLS = [
    "occurrence_time", "ep", "session", "thread", "user", "trx_id",
    "statement", "appname", "ip", "sql_type", "description",
    "execute_time", "rowcount", "execute_id",
]


def oracle_stage(df: pd.DataFrame) -> pd.DataFrame:
    """oracle_frame with the conversation-level degenerate-input rule
    (io.rs:147-167) applied, written out per conversation: a conversation
    with a timestamp line keeps its records and errors, one without keeps
    its errors if one is Utf8-class, else one synthetic row at its first
    turn.  Sentinel rows go."""
    keep = []
    for _, g in oracle_frame(df).groupby("conv_id", sort=True):
        if g.has_ts.any():
            keep.append(g[g.error.notna() | g.occurrence_time.notna()])
        elif (g.error_class == "Utf8").any():
            keep.append(g[g.error.notna()])
        else:
            r = g.iloc[[0]].copy()
            r[_RECORD_COLS] = None
            r["error"] = f"未知错误: {oracle.NO_VALID_LINE}"
            r["error_class"], r["error_line"] = "Other", 0
            r["raw"] = oracle.NO_VALID_LINE
            keep.append(r)
    return pd.concat(keep, ignore_index=True)


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
    """Full Spark round trip: Arrow in, exchange and sort, mapInPandas with
    the conversation-level rule, Arrow out — partition and Arrow batch
    boundaries must not change results."""
    df = generate_transcripts(1500, 11)
    sdf = spark.createDataFrame(df, schema=TRANSCRIPT_SCHEMA).repartition(7)
    old = _batch_rows(spark, 97)
    try:
        got = parse_stage(spark, sdf, target_partitions=5).toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = (
        got
        .sort_values(["conv_id", "turn_idx", "rec_idx"])
        .reset_index(drop=True)
    )
    assert_frames_equal(got[COMPARE_COLS], oracle_stage(df))


def test_empty_input(spark):
    sdf = spark.createDataFrame([], schema=TRANSCRIPT_SCHEMA)
    assert parse_stage(spark, sdf).count() == 0


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
    """Every Spark parse goes through parse_stage, batch and follow mode
    alike, and its sort puts a duplicated turn of SHUFFLED input next to
    its copy: it must fail loudly, not emit the turn twice."""
    df = generate_transcripts(200, 5)
    dup = (
        pd.concat([df, df.iloc[[17]]], ignore_index=True)
        .sample(frac=1.0, random_state=3)
        .reset_index(drop=True)
    )
    sdf = spark.createDataFrame(dup, schema=TRANSCRIPT_SCHEMA).coalesce(1)
    with pytest.raises(Exception, match="duplicate turn key"):
        parse_stage(spark, sdf, target_partitions=2).collect()


def test_spark_parse_rejects_duplicate_turn_key_across_arrow_batches(spark):
    """The parse stage's sort puts the two copies of a duplicated turn key
    next to each other; when they straddle an Arrow batch boundary, each
    batch alone is unique, so the partition iterator must carry the last
    key of one batch into the next."""
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


def _batch_rows(spark, n: int):
    """Set the Arrow batch size of the parse UDF to ``n`` rows; returns
    the old value."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    return old


_HDR = "2025-01-01 00:00:00.000 (EP[1] sess:NULL thrd:1 user:u trxid:1 stmt:NULL) [SEL]: x"


def _turns(rows) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["role"], df["tool"] = "user", None
    df["ts"] = pd.Timestamp("2025-01-01") + pd.to_timedelta(df.index, unit="s")
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]


def test_degenerate_rule_across_arrow_batches(spark):
    """3-row Arrow batches: [a0 b0 b1] [b2 c0 c1] [c2 d0].  Degenerate
    conversation b straddles the first boundary and still yields exactly
    ONE synthetic row, at its first turn.  Conversation c's only
    timestamp line is in the last batch, so its first batch is held, then
    released whole: the record embedded mid-line in c0 and the errors of
    c1 are kept."""
    df = _turns([
        ("a", 0, _HDR),
        ("b", 0, "junk line"), ("b", 1, "   "), ("b", 2, "more junk"),
        ("c", 0, "junk " + _HDR), ("c", 1, "�garbage no timestamp"), ("c", 2, _HDR),
        ("d", 0, _HDR),
    ])
    old = _batch_rows(spark, 3)
    try:
        got = parse_stage(
            spark, spark.createDataFrame(df, schema=TRANSCRIPT_SCHEMA), target_partitions=1
        ).toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    b = got[got.conv_id == "b"]
    assert len(b) == 1
    r = b.iloc[0]
    assert (r.turn_idx, r.rec_idx, r.error_line, r.error_class, r.raw) == (
        0, 0, 0, "Other", oracle.NO_VALID_LINE
    )
    assert r.error == f"未知错误: {oracle.NO_VALID_LINE}" and not r.has_ts

    c = got[got.conv_id == "c"].reset_index(drop=True)
    want = parse_batch(df[df.conv_id == "c"].reset_index(drop=True))
    assert want.error.notna().sum() >= 1 and want.occurrence_time.notna().sum() == 2
    assert_frames_equal(c[COMPARE_COLS], want[COMPARE_COLS])
    # a and d: one record each, no sentinel rows anywhere
    assert sorted(got[got.conv_id.isin(["a", "d"])].conv_id) == ["a", "d"]
    assert not (got.error.isna() & got.occurrence_time.isna()).any()


def test_parse_rejects_ungrouped_input(spark):
    """The rule needs each conversation contiguous in its partition: a
    conv_id that decreases, within one Arrow batch or across two, raises
    instead of splitting a conversation into two verdicts."""
    within = _turns([("a", 0, _HDR), ("c", 0, _HDR), ("b", 0, _HDR)])
    across = _turns([("a", 0, _HDR), ("c", 0, _HDR), ("c", 1, _HDR), ("b", 0, _HDR)])
    old = _batch_rows(spark, 3)
    try:
        for df in (within, across):
            sdf = spark.createDataFrame(df, schema=TRANSCRIPT_SCHEMA).coalesce(1)
            with pytest.raises(Exception, match="not grouped by conv_id"):
                parse_transcripts(sdf).collect()
        # the same rows sorted parse cleanly
        ok = spark.createDataFrame(across.sort_values("conv_id"), schema=TRANSCRIPT_SCHEMA)
        assert parse_transcripts(ok.coalesce(1)).count() == 4
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_parse_stage_rejects_a_null_conv_id(spark):
    """A user's input read with schema inference may carry a null conv_id,
    which the transcripts schema rules out: the conversation rule and
    every sink key on it.  The parse names the contract instead of failing
    later in the JVM on the non-null conv_id column."""
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in TRANSCRIPT_SCHEMA.fields]
    )
    df = _turns([(None, 0, _HDR), ("a", 0, "junk"), ("a", 1, _HDR)])
    sdf = spark.createDataFrame(df, schema=schema)
    with pytest.raises(Exception, match="null conv_id in transcripts input"):
        parse_stage(spark, sdf, target_partitions=1).collect()
