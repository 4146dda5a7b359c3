"""Query-log / event-analytics operators (operators/loganalytics.py):
statement-shape digest, funnel, cohort retention, SCD2 intervals, DQ
report, blocked fuzzy linkage, BM25 — each pinned against a pure-Python
computation on a hand-checkable fixture.  The driver contract re-checks
all of them against DuckDB at sf0.01."""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sqllog_analysis_spark.operators import loganalytics as LA

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _m(minutes: float) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


# ---------------------------------------------------------------------------
# Statement-shape normalization
# ---------------------------------------------------------------------------

SHAPE_CASES = [
    ("SELECT * FROM t WHERE id = 42", "select * from t where id = ?"),
    ("select name from u where city = 'NYC'", "select name from u where city = ?"),
    # '' escape stays one literal
    ("select 'it''s' from d", "select ? from d"),
    # IN-list collapse
    ("DELETE FROM s WHERE k IN (1, 2, 3)", "delete from s where k in (?)"),
    ("insert into a values (7, 'x', 3.14)", "insert into a values (?)"),
    # identifiers with digits survive
    ("select col_0, t2.x from t2 where col_0 = 5", "select col_0, t2.x from t2 where col_0 = ?"),
    # hex literal masked whole
    ("select * from h where addr = 0x1F2a", "select * from h where addr = ?"),
    # whitespace folding incl newlines
    ("select a\n  from b\twhere c = 9", "select a from b where c = ?"),
    # metrics tail (description keeps it) masks stably
    (
        "update t set v = 3 EXECTIME: 123(ms) ROWCOUNT: 4 EXEC_ID: 99.",
        "update t set v = ? exectime: ?(ms) rowcount: ? exec_id: ?.",
    ),
]


@pytest.mark.parametrize("raw,want", SHAPE_CASES)
def test_normalize_sql_shape_py_cases(raw, want):
    assert LA.normalize_sql_shape_py(raw) == want


def test_normalize_sql_shape_spark_python_parity(spark):
    """The Spark regexp chain and the pure-Python mirror agree on every
    fixture case plus generator-grammar statements (the contract corpus'
    SQL bodies with literals, params tuples, and multiline strings) AND
    non-ASCII input — the rules use explicit ASCII classes/lookarounds,
    so a Unicode digit or U+00A0 must NOT mask in either engine."""
    texts = [r for r, _ in SHAPE_CASES] + [
        "select ٣ from t where x = 42",   # Arabic-Indic digit: stays
        "select a from b where c = 7",    # NBSP is not \\s: stays
    ] + [
        "select * from users where id = ?",
        "PARAMS(SEQNO, TYPE, DATA)={(0, NUMBER, 993561), (2, VARCHAR2, 'CS_c768d88f3a07')}",
        "PARAMS(SEQNO, TYPE, DATA)={(1, NUMBER, 5), (19, VARCHAR2, '\n1\n1')}",
        "select x\n  and col_0 = 12\n  and col_1 = 7 EXECTIME: 5(ms)",
        "",
        "   ",
        "no sql at all — just text 12.5 'quoted'",
    ]
    sdf = spark.createDataFrame(pd.DataFrame({"t": texts}))
    got = [
        r["s"]
        for r in sdf.select(LA.normalize_sql_shape("t").alias("s"))
        .toPandas()
        .to_dict("records")
    ]
    want = [LA.normalize_sql_shape_py(t) for t in texts]
    assert got == want


def test_sql_shape_digest_groups_and_orders(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "description": [
                    "select * from t where id = 1",
                    "select * from t where id = 2",
                    "select * from t where id = 3",
                    "delete from s where k = 9",
                ],
                "execute_time": pd.array([10, None, 30, 7], dtype="Int64"),
            }
        )
    )
    got = LA.sql_shape_digest(df).toPandas().to_dict("records")
    assert got == [
        {
            "shape": "select * from t where id = ?",
            "n": 3,
            "n_timed": 2,
            "total_exec_ms": 40,
        },
        {
            "shape": "delete from s where k = ?",
            "n": 1,
            "n_timed": 1,
            "total_exec_ms": 7,
        },
    ]


# ---------------------------------------------------------------------------
# Funnel
# ---------------------------------------------------------------------------

def test_funnel_counts_respects_step_order(spark):
    # u1 completes view→click→purchase in order; u2 clicks BEFORE its only
    # view (click must not count); u3 views only.
    rows = [
        ("u1", "view", _m(0)),
        ("u1", "click", _m(1)),
        ("u1", "purchase", _m(2)),
        ("u2", "click", _m(0)),
        ("u2", "view", _m(1)),
        ("u3", "view", _m(0)),
        ("u3", "purchase", _m(1)),  # no click between → not step3
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, ts timestamp")
    got = LA.funnel_counts(df, ["view", "click", "purchase"]).collect()[0]
    assert (got.step1_users, got.step2_users, got.step3_users) == (3, 1, 1)


def test_funnel_strictly_after_excludes_ties(spark):
    rows = [("u", "view", _m(0)), ("u", "click", _m(0))]
    df = spark.createDataFrame(rows, "user_id string, event_type string, ts timestamp")
    got = LA.funnel_counts(df, ["view", "click"]).collect()[0]
    assert (got.step1_users, got.step2_users) == (1, 0)


# ---------------------------------------------------------------------------
# Cohort retention
# ---------------------------------------------------------------------------

def test_cohort_retention_offsets(spark):
    # u1 first event Mon week0, active week0 and week2; u2 first week1.
    rows = [
        ("u1", dt.datetime(2024, 1, 1)),   # Monday
        ("u1", dt.datetime(2024, 1, 16)),  # week offset 2
        ("u2", dt.datetime(2024, 1, 10)),  # cohort week of Jan 8
        ("u2", dt.datetime(2024, 1, 11)),  # same week → one distinct
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {
        (str(r["cohort_week"]), r["week_offset"]): r["n_users"]
        for r in LA.cohort_retention(df).toPandas().to_dict("records")
    }
    assert got == {
        ("2024-01-01 00:00:00", 0): 1,
        ("2024-01-01 00:00:00", 2): 1,
        ("2024-01-08 00:00:00", 0): 1,
    }


# ---------------------------------------------------------------------------
# SCD2 intervals
# ---------------------------------------------------------------------------

def test_scd2_intervals_merges_runs_and_opens_current(spark):
    rows = [
        ("k", "A", _m(0), 1),
        ("k", "A", _m(1), 2),  # same run — merged
        ("k", "B", _m(2), 3),
        ("k", "A", _m(3), 4),  # A again — NEW interval, not merged backward
    ]
    df = spark.createDataFrame(rows, "k string, attr string, ts timestamp, i int")
    got = [
        (
            r["attr"],
            str(r["valid_from"]),
            None if pd.isna(r["valid_to"]) else str(r["valid_to"]),
        )
        for r in LA.scd2_intervals(df, "k", "attr", "ts", tiebreak_col="i")
        .orderBy("valid_from")
        .toPandas()
        .to_dict("records")
    ]
    assert got == [
        ("A", "2024-01-01 00:00:00", "2024-01-01 00:02:00"),
        ("B", "2024-01-01 00:02:00", "2024-01-01 00:03:00"),
        ("A", "2024-01-01 00:03:00", None),
    ]


def test_scd2_intervals_null_is_a_value(spark):
    """A change TO NULL opens a NULL interval (null-safe comparison), a
    NULL run merges, and a key whose first value is NULL still yields a
    first interval."""
    rows = [
        ("k", "A", _m(0), 1),
        ("k", None, _m(1), 2),   # A → NULL is a change point
        ("k", None, _m(2), 3),   # NULL run merges
        ("k", "A", _m(3), 4),    # NULL → A is a change point
        ("j", None, _m(0), 5),   # first row, NULL value: still emitted
    ]
    df = spark.createDataFrame(rows, "k string, attr string, ts timestamp, i int")
    got = [
        (r["k"], r["attr"], str(r["valid_from"]))
        for r in LA.scd2_intervals(df, "k", "attr", "ts", tiebreak_col="i")
        .orderBy("k", "valid_from")
        .toPandas()
        .to_dict("records")
    ]
    assert got == [
        ("j", None, "2024-01-01 00:00:00"),
        ("k", "A", "2024-01-01 00:00:00"),
        ("k", None, "2024-01-01 00:01:00"),
        ("k", "A", "2024-01-01 00:03:00"),
    ]


# ---------------------------------------------------------------------------
# Session stats
# ---------------------------------------------------------------------------

def test_session_stats_gap_boundary(spark):
    rows = [
        ("u", _m(0), 1),
        ("u", _m(30), 2),    # exactly 1800s later → SAME session
        ("u", _m(60.1), 3),  # 1806s later → new session
        ("v", _m(0), 4),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_id int")
    got = [
        (r["user_id"], r["session_id"], r["n_events"], r["duration_s"])
        for r in LA.session_stats(df, gap_seconds=1800, tiebreak_col="event_id")
        .toPandas()
        .to_dict("records")
    ]
    assert got == [("u", 1, 2, 1800.0), ("u", 2, 1, 0.0), ("v", 1, 1, 0.0)]


# ---------------------------------------------------------------------------
# Crosstab chi-square
# ---------------------------------------------------------------------------

def test_crosstab_chi2_2x2(spark):
    # rows: a/b, cols: x/y — counts 30,10 / 10,30; N=80
    rows = (
        [("a", "x")] * 30 + [("a", "y")] * 10 + [("b", "x")] * 10 + [("b", "y")] * 30
    )
    df = spark.createDataFrame(rows, "r string, c string")
    got = {
        (g["row"], g["c"]): (g["n"], g["expected"], g["chi2"])
        for g in LA.crosstab_chi2(df, "r", "c", col_name="c").toPandas().to_dict("records")
    }
    # every marginal is 40 → expected 40*40/80 = 20; chi2 = (30-20)^2/20 = 5
    assert got == {
        ("a", "x"): (30, 20.0, 5.0),
        ("a", "y"): (10, 20.0, 5.0),
        ("b", "x"): (10, 20.0, 5.0),
        ("b", "y"): (30, 20.0, 5.0),
    }


# ---------------------------------------------------------------------------
# Group entropy
# ---------------------------------------------------------------------------

def test_group_entropy_uniform_and_degenerate(spark):
    rows = [("g1", "u1"), ("g1", "u2"), ("g2", "u1"), ("g2", "u1")]
    df = spark.createDataFrame(rows, "grp string, unit string")
    got = {
        r["grp"]: (r["n"], r["n_units"], r["entropy"])
        for r in LA.group_entropy(df, "grp", "unit").toPandas().to_dict("records")
    }
    assert got["g1"] == (2, 2, round(math.log(2), 6))  # uniform over 2 units
    assert got["g2"][0] == 2 and got["g2"][1] == 1 and got["g2"][2] == 0.0


# ---------------------------------------------------------------------------
# DQ report
# ---------------------------------------------------------------------------

def test_dq_report_counts_null_as_fail(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"v": pd.array([1, 2, None, -3], dtype="Int64")})
    )
    got = {
        r["check_name"]: (r["n_pass"], r["n_fail"], r["pass_rate"])
        for r in LA.dq_report(
            df, {"v_complete": F.col("v").isNotNull(), "v_positive": F.col("v") > 0}
        )
        .toPandas()
        .to_dict("records")
    }
    assert got == {
        "v_complete": (3, 1, 0.75),
        "v_positive": (2, 2, 0.5),  # NULL verdict = fail
    }


def test_dq_report_check_name_with_quote(spark):
    df = spark.createDataFrame([(1,)], "v int")
    got = LA.dq_report(df, {"o'clock rule": F.col("v") > 0}).collect()
    assert got[0]["check_name"] == "o'clock rule" and got[0]["n_pass"] == 1


# ---------------------------------------------------------------------------
# Blocked fuzzy pairs
# ---------------------------------------------------------------------------

def test_blocked_fuzzy_pairs_blocks_and_filters(spark):
    rows = [
        (1, "alpha-x"),
        (2, "alpha-y"),   # same block, dist 1 → pair
        (3, "alpha-zz"),  # same block, dist 2 from both → filtered at max 1
        (4, "beta-x"),    # different block → never compared
    ]
    df = spark.createDataFrame(rows, "id int, nm string")
    got = [
        (r["a"], r["b"], r["dist"])
        for r in LA.blocked_fuzzy_pairs(df, "id", "nm", block_len=5, max_dist=1)
        .toPandas()
        .to_dict("records")
    ]
    assert got == [(1, 2, 1)]


def test_normalize_sql_shape_parity_fuzz(spark):
    """Hypothesis fuzz: random statement-ish strings (quotes, numbers,
    hex, tuples, unicode, newlines) must shape identically through the
    Spark regexp chain and the Python mirror (the rules use explicit
    ASCII classes/lookarounds so neither engine's escape semantics can
    leak in)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    token = st.sampled_from(
        list("abcXYZ_ 0123456789'(),=?.\n\t-–٣ ")
        + ["''", "0x1F", "IN (1,2)", "= 'it''s'", "3.14", "col_0"]
    )
    texts = st.lists(
        st.lists(token, max_size=25).map("".join), min_size=1, max_size=30
    )

    @settings(max_examples=15, deadline=None)
    @given(texts)
    def run(batch):
        sdf = spark.createDataFrame(pd.DataFrame({"t": pd.Series(batch, dtype="string")}))
        got = [
            r["s"]
            for r in sdf.select(LA.normalize_sql_shape("t").alias("s"))
            .toPandas()
            .to_dict("records")
        ]
        assert got == [LA.normalize_sql_shape_py(t) for t in batch]

    run()


# ---------------------------------------------------------------------------
# Reply latency
# ---------------------------------------------------------------------------

def test_reply_latency_next_assistant_only(spark):
    rows = [
        ("c", 0, "user", _m(0)),
        ("c", 1, "tool", _m(1)),       # skipped: not the target role
        ("c", 2, "assistant", _m(3)),  # answers turn 0 (3 min)
        ("c", 3, "user", _m(4)),       # unanswered → dropped
        ("d", 0, "assistant", _m(0)),  # answer BEFORE any user turn
        ("d", 1, "user", _m(1)),       # unanswered (no later assistant)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts timestamp"
    )
    from sqllog_analysis_spark.operators.loganalytics import reply_latency

    got = [
        (r["conv_id"], r["turn_idx"], r["latency_us"])
        for r in reply_latency(df).orderBy("conv_id", "turn_idx").toPandas().to_dict("records")
    ]
    assert got == [("c", 0, 180_000_000)]


def test_reply_latency_matches_bruteforce_fuzz(spark):
    """Random multi-turn conversations: the window implementation equals
    an O(n²) per-conversation brute force."""
    import numpy as np

    rng = np.random.default_rng(17)
    roles = ["user", "assistant", "tool", "system"]
    rows = []
    for conv in range(40):
        n = int(rng.integers(1, 12))
        for t in range(n):
            rows.append(
                (f"c{conv}", t, roles[int(rng.integers(0, 4))], _m(float(len(rows))))
            )
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts timestamp"
    )
    from sqllog_analysis_spark.operators.loganalytics import reply_latency

    got = sorted(
        (r["conv_id"], r["turn_idx"], r["latency_us"])
        for r in reply_latency(df).toPandas().to_dict("records")
    )

    by_conv: dict = {}
    for cid, t, role, ts in rows:
        by_conv.setdefault(cid, []).append((t, role, ts))
    want = []
    for cid, turns in by_conv.items():
        turns.sort()
        for i, (t, role, ts) in enumerate(turns):
            if role != "user":
                continue
            nxt = [x for x in turns[i + 1 :] if x[1] == "assistant"]
            if nxt:
                want.append(
                    (cid, t, int((nxt[0][2] - ts).total_seconds() * 1_000_000))
                )
    assert got == sorted(want) and len(got) > 10


# ---------------------------------------------------------------------------
# Z-score outliers
# ---------------------------------------------------------------------------

def test_zscore_outliers_flags_only_extremes(spark):
    vals = [10.0] * 20 + [10.5] * 20 + [100.0]  # one wild point
    rows = [("g", v) for v in vals] + [("const", 5.0), ("const", 5.0)]
    df = spark.createDataFrame(rows, "grp string, v double")
    got = LA.zscore_outliers(df, "grp", "v", 3.0).toPandas().to_dict("records")
    assert len(got) == 1 and got[0]["grp"] == "g" and got[0]["v"] == 100.0
    assert got[0]["z"] > 3  # zero-stddev group contributed nothing


# ---------------------------------------------------------------------------
# Markov transitions
# ---------------------------------------------------------------------------

def test_event_transitions_counts_and_probs(spark):
    rows = [
        ("u1", "a", _m(0), 1),
        ("u1", "b", _m(1), 2),
        ("u1", "a", _m(2), 3),
        ("u1", "b", _m(3), 4),
        ("u2", "a", _m(0), 5),
        ("u2", "a", _m(1), 6),
    ]
    df = spark.createDataFrame(rows, "k string, t string, ts timestamp, i int")
    got = {
        (r["src"], r["dst"]): (r["n"], r["p"])
        for r in LA.event_transitions(df, "k", "t", "ts", "i")
        .toPandas()
        .to_dict("records")
    }
    # u1: a→b, b→a, a→b; u2: a→a.  src=a totals 3, src=b totals 1.
    assert got == {
        ("a", "b"): (2, round(2 / 3, 6)),
        ("a", "a"): (1, round(1 / 3, 6)),
        ("b", "a"): (1, 1.0),
    }


# ---------------------------------------------------------------------------
# Daily trend
# ---------------------------------------------------------------------------

def test_daily_trend_moving_average_and_delta(spark):
    rows = (
        [("x", dt.datetime(2024, 1, 1, 5))] * 2
        + [("x", dt.datetime(2024, 1, 2, 5))] * 4
        + [("x", dt.datetime(2024, 1, 3, 5))] * 3
    )
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = [
        (str(r["day"]), r["n"], r["ma"], None if pd.isna(r["delta"]) else r["delta"])
        for r in LA.daily_trend(df, window_days=2).toPandas().to_dict("records")
    ]
    assert got == [
        ("2024-01-01", 2, 2.0, None),
        ("2024-01-02", 4, 3.0, 2),   # trailing-2 ma = (2+4)/2
        ("2024-01-03", 3, 3.5, -1),  # (4+3)/2
    ]


# ---------------------------------------------------------------------------
# Histogram
# ---------------------------------------------------------------------------

def test_value_histogram_bins_and_clamps(spark):
    df = spark.createDataFrame(
        [(v,) for v in [-5.0, 0.0, 1.9, 2.0, 9.9, 10.0, 99.0]], "v double"
    )
    got = {
        r["bin"]: r["n"]
        for r in LA.value_histogram(df, "v", 0.0, 10.0, 5).toPandas().to_dict("records")
    }
    # width 2: bin0=[-inf clamp..2), bin4 clamps everything ≥ 8
    assert got == {0: 3, 1: 1, 4: 3}


# ---------------------------------------------------------------------------
# Heavy hitters
# ---------------------------------------------------------------------------

def test_heavy_hitters_exact_over_many_partitions(spark):
    # skewed corpus: 'hot' 40%, 'warm' 11%, tail of 49 singletons + filler.
    items = (
        ["hot"] * 400 + ["warm"] * 110 + [f"tail{i}" for i in range(49)] * 1
        + ["filler"] * 441
    )
    df = spark.createDataFrame([(x,) for x in items], "item string").repartition(16)
    got = [
        (r["item"], r["n"])
        for r in LA.heavy_hitters(df, "item", 0.10).toPandas().to_dict("records")
    ]
    # exact counts, exact threshold (n=1000 → min 100), ordered n desc
    assert got == [("filler", 441), ("hot", 400), ("warm", 110)]


def test_heavy_hitters_superset_guarantee_fuzz(spark):
    """Every item above the threshold fraction must be reported with its
    EXACT count even when split across many partitions (the MG candidate
    pass may only over-generate, never lose a qualifying item)."""
    import numpy as np

    rng = np.random.default_rng(11)
    pool = [f"w{i}" for i in range(200)]
    weights = rng.zipf(1.5, 200).astype(float)
    weights /= weights.sum()
    items = rng.choice(pool, size=5000, p=weights)
    truth = pd.Series(items).value_counts()
    frac = 0.02
    want = {
        (k, int(v)) for k, v in truth.items() if v >= -(-frac * len(items) // 1)
    }
    df = spark.createDataFrame([(str(x),) for x in items], "item string").repartition(32)
    got = {
        (r["item"], r["n"])
        for r in LA.heavy_hitters(df, "item", frac).toPandas().to_dict("records")
    }
    assert got == want


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------

def test_bm25_rank_matches_reference_math(spark):
    docs = [
        (0, "spark spark spark filler"),
        (1, "spark filler filler filler filler filler"),
        (2, "filler other words here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r["score"]
        for r in LA.bm25_rank(df, ["spark"], top_k=10).toPandas().to_dict("records")
    }

    # pure-Python BM25 with the same constants
    k1, b = 1.2, 0.75
    toks = [d[1].split() for d in docs]
    dls = [len(t) for t in toks]
    avgdl = sum(dls) / len(dls)
    dfreq = sum(1 for t in toks if "spark" in t)
    idf = math.log(1 + (len(docs) - dfreq + 0.5) / (dfreq + 0.5))
    want = {}
    for (doc_id, _), t, dl in zip(docs, toks, dls):
        tf = t.count("spark")
        if tf:
            want[doc_id] = round(
                idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl)), 6
            )
    assert got == want
    # more occurrences in a shorter doc must rank higher
    assert got[0] > got[1]
