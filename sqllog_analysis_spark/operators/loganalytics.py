"""Query-log analytics and event-analytics operators.

The reference stores parsed SQL-log records and answers questions about
them (slow queries, per-category counts — README.md:470-493,
src/database/duckdb_impl.rs:98-115).  This module adds the analyses a
production query-log warehouse runs on top of that record table —
statement-shape digests (the pt-query-digest / pg_stat_statements
workload summary), funnels, cohort retention, SCD2 change intervals,
data-quality constraint reports, blocked fuzzy record linkage, and BM25
relevance ranking.

Every operator is a narrow column-expression plan (whole-stage codegen,
no Python in the hot path) whose math is engine-agnostic, so the driver
contract's DuckDB oracle reproduces each result bit-for-bit.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window, functions as F

# ---------------------------------------------------------------------------
# SQL statement-shape normalization (pt-query-digest / pg_stat_statements)
# ---------------------------------------------------------------------------
# Literal-masking rules, applied in order.  Each pattern uses only syntax
# with identical semantics in Java regex (Spark), Python re (the pure-Python
# oracle below), and RE2 (DuckDB), so all three engines derive the same
# shape for the same statement:
#   1. quoted string literals -> ?   ('' escapes stay inside one literal;
#      [^']* spans newlines in all three engines without DOTALL)
#   2. hex literals -> ?             (before the digit rule so 0x1f doesn't
#      decay into "?x?f")
#   3. standalone numbers -> ?       (the lookarounds keep identifiers
#      like col_0 intact: '_' is in the word class)
#   4. IN-list / VALUES-tuple collapse: (?, ?, ?) -> (?)  so list arity
#      doesn't explode shape cardinality
#   5. whitespace collapse + trim + lowercase
#
# No \b, \d, or \s appears in any pattern: those escapes are
# engine-DEPENDENT (Java's \b is Unicode-aware while \d is ASCII;
# Python's are all Unicode unless re.ASCII), so the rules spell out
# explicit ASCII classes and lookarounds, which mean the same thing in
# Java regex and Python re — the two engines that actually run them
# (the DuckDB oracle consumes pre-computed constants, not these
# patterns; RE2 has no lookarounds, so don't port rules 2-3 verbatim).
_WORD = "0-9a-zA-Z_"
_WS = r" \t\n\r\f\x0B"
_SHAPE_RULES: list[tuple[str, str]] = [
    (r"'([^']|'')*'", "?"),
    (rf"(?<![{_WORD}])0x[0-9a-fA-F]+(?![{_WORD}])", "?"),
    (rf"(?<![{_WORD}])[0-9]+(\.[0-9]+)?(?![{_WORD}])", "?"),
    (rf"\([{_WS}]*\?[{_WS}]*(,[{_WS}]*\?[{_WS}]*)*\)", "(?)"),
    (rf"[{_WS}]+", " "),
]


def normalize_sql_shape(col: str | Column) -> Column:
    """Canonical statement shape of a SQL text column (literals masked,
    IN-lists collapsed, whitespace folded, lowercased)."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, rep in _SHAPE_RULES:
        c = F.regexp_replace(c, pat, rep)
    return F.lower(F.trim(c))


def normalize_sql_shape_py(text: str) -> str:
    """Pure-Python mirror of :func:`normalize_sql_shape` — used by the
    contract-expected generator and the Spark-vs-Python parity test.

    The rules avoid engine-dependent escapes (see ``_SHAPE_RULES``), so
    plain ``re.sub`` is exact.  The final strip removes ASCII spaces
    only — Spark's ``trim`` trims 0x20, while Python's bare ``.strip()``
    would also eat a leading/trailing NBSP (other ASCII whitespace is
    already collapsed to spaces by the last rule)."""
    for pat, rep in _SHAPE_RULES:
        text = re.sub(pat, rep, text)
    return text.strip(" ").lower()


def sql_shape_digest(
    records: DataFrame,
    sql_col: str = "description",
    time_col: str = "execute_time",
    top_k: int | None = None,
) -> DataFrame:
    """Workload digest: group records by normalized statement shape and
    summarize volume + latency, like pt-query-digest over a slow-query log.

    Returns (shape, n, n_timed, total_exec_ms) ordered by n desc, shape.

    Scale shape: the normalizer is a regexp_replace chain — pure codegen,
    zero Python — and the groupBy partial-aggregates map-side, so even a
    workload where ONE shape is 90% of 100 TB of records collapses to one
    row per shape per task before the (tiny: #shapes) shuffle.
    """
    shaped = records.select(
        normalize_sql_shape(sql_col).alias("shape"),
        F.col(time_col).alias("_t"),
    )
    out = (
        shaped.groupBy("shape")
        .agg(
            F.count("*").alias("n"),
            F.count("_t").alias("n_timed"),
            F.coalesce(F.sum("_t"), F.lit(0)).alias("total_exec_ms"),
        )
        .orderBy(F.desc("n"), "shape")
    )
    return out.limit(top_k) if top_k else out


def latency_percentiles(
    records: DataFrame, quantiles: tuple[float, ...] = (0.5, 0.99)
) -> DataFrame:
    """Per-category latency percentiles from log2 histograms of
    ``execute_time``: for each requested quantile q, the TIGHT upper bound
    of the first bin whose cumulative count reaches q·total — bin b holds
    exactly t ∈ [2^b − 1, 2^(b+1) − 2] (floor(log2(t+1)) = b), so the
    reported value is 2^(b+1) − 2 and the true percentile lies within
    one bin width below it (factor-2 on log2 bins).

    Returns (category, n, q50_ub_ms, q99_ub_ms, …) — one row per
    category with a timed record; column per quantile, named
    ``q<pct>_ub_ms`` (fractional percentiles keep their digits: 0.999 →
    ``q99_9_ub_ms``).
    """
    hist = (
        records.filter(F.col("execute_time").isNotNull())
        .groupBy(
            "category",
            F.least(
                F.floor(F.log2(F.col("execute_time") + 1)), F.lit(40)
            ).cast("int").alias("bin"),
        )
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("category").orderBy("bin")
    tot = Window.partitionBy("category")
    cum = hist.select(
        "category",
        "bin",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(tot).alias("total"),
    )
    aggs = [F.max("total").alias("n")]
    for q in quantiles:
        ub = F.min(
            F.when(
                F.col("cum") >= q * F.col("total"),
                # tight bin upper bound 2^(bin+1)-2; SQL shiftleft accepts
                # a column bit count (the DataFrame fn wants a literal)
                F.expr("shiftleft(CAST(1 AS BIGINT), bin + 1) - 2"),
            )
        )
        # %g keeps fractional percentiles distinct (0.999 → q99_9, not a
        # second q99) without trailing zeros
        pct = ("%g" % (q * 100)).replace(".", "_")
        aggs.append(ub.alias(f"q{pct}_ub_ms"))
    return cum.groupBy("category").agg(*aggs).orderBy("category")


# ---------------------------------------------------------------------------
# Funnel analysis
# ---------------------------------------------------------------------------

def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-funnel conversion: how many users performed ``steps[0]``,
    then ``steps[1]`` strictly after it, then ``steps[2]`` after that, …

    Returns one row: (step_1_users, step_2_users, …) as BIGINT columns.

    Scale shape: each step is a conditional MIN window over the SAME
    user partitioning — Catalyst plans the chain as one exchange on
    ``user_col`` with stacked Window operators, and the follow-up
    per-user collapse reuses that partitioning (no second shuffle).
    The final global count is a single-row reduce.
    """
    w = Window.partitionBy(user_col)
    df = events.select(user_col, type_col, ts_col)
    prev: Column | None = None
    step_cols = []
    for i, s in enumerate(steps):
        cond = F.col(type_col) == s
        if prev is not None:
            cond = cond & (F.col(ts_col) > prev)
        c = F.min(F.when(cond, F.col(ts_col))).over(w)
        name = f"_s{i}"
        df = df.withColumn(name, c)
        prev = F.col(name)
        step_cols.append(name)
    per_user = df.groupBy(user_col).agg(
        *[F.max(c).alias(c) for c in step_cols]
    )
    return per_user.agg(
        *[
            F.count(c).cast("long").alias(f"step{i + 1}_users")
            for i, c in enumerate(step_cols)
        ]
    )


# ---------------------------------------------------------------------------
# Cohort retention
# ---------------------------------------------------------------------------

def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: users grouped by the ISO week of their
    first event; for each (cohort_week, week_offset) the number of
    distinct cohort members active that week.

    Returns (cohort_week, week_offset, n_users) ordered by both keys.

    Scale shape: first-seen is a MIN window on ``user_col`` (one
    shuffle); the retention groupBy shuffles only (cohort, offset,
    user) triples — already distinct-per-user-week after the
    dropDuplicates that rides the same exchange.
    """
    w = Window.partitionBy(user_col)
    first_ts = F.min(ts_col).over(w)
    cohort = F.date_trunc("week", first_ts)
    week = F.date_trunc("week", F.col(ts_col))
    offset = (
        (F.unix_timestamp(week) - F.unix_timestamp(cohort)) / (7 * 86400)
    ).cast("int")
    return (
        events.select(user_col, ts_col)
        .withColumn("cohort_week", cohort)
        .withColumn("week_offset", offset)
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct(F.col(user_col)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Sessionization to a session table
# ---------------------------------------------------------------------------

def session_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Materialize gap-based sessions as a table: one row per (user,
    session) with start/end timestamps, event count, and duration.

    A session breaks when consecutive events are more than
    ``gap_seconds`` apart (event time).  Session ids number 1.. within
    each user in time order.

    Returns (user_col, session_id, session_start, session_end, n_events,
    duration_s) ordered by (user, session_id).

    Scale shape: the lag flag and the running-sum session id share ONE
    ordered window exchange on the user; the per-session rollup reuses
    that partitioning (sub-key aggregation, no second full shuffle).
    """
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap_us = us - F.lag(us).over(w)
    new_s = F.when(
        gap_us.isNull() | (gap_us > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    sid = F.sum(new_s).over(w)
    return (
        events.select(user_col, *order[0:])
        .withColumn("session_id", sid.cast("int"))
        .groupBy(user_col, "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(
                (
                    F.unix_micros(F.max(ts_col).cast("timestamp"))
                    - F.unix_micros(F.min(ts_col).cast("timestamp"))
                )
                / 1_000_000.0,
                6,
            ).alias("duration_s"),
        )
        .orderBy(user_col, "session_id")
    )


# ---------------------------------------------------------------------------
# Contingency table with chi-square contributions
# ---------------------------------------------------------------------------

def crosstab_chi2(
    df: DataFrame,
    row_col: str,
    col_col: str | Column,
    col_name: str = "col",
) -> DataFrame:
    """Contingency table with expected counts and per-cell chi-square
    contributions — the independence diagnostic over two categorical
    log dimensions (e.g. event type × weekday).

    Returns (row, col, n, expected, chi2) per observed cell, rounded to
    6 dp; expected = row_total · col_total / N.  All inputs are integer
    counts, so the doubles are engine-identical.

    Scale shape: ONE (row, col) aggregate of the data; marginals are
    windows over the tiny cell table, never a second data scan.
    """
    c = F.col(col_col) if isinstance(col_col, str) else col_col
    cells = (
        df.select(F.col(row_col).alias("row"), c.alias(col_name))
        .groupBy("row", col_name)
        .agg(F.count("*").alias("n"))
    )
    wr = Window.partitionBy("row")
    wc = Window.partitionBy(col_name)
    wt = Window.partitionBy()
    expected = (
        F.sum("n").over(wr) * F.sum("n").over(wc) / F.sum("n").over(wt)
    )
    return cells.select(
        "row",
        col_name,
        "n",
        F.round(expected, 6).alias("expected"),
        F.round((F.col("n") - expected) * (F.col("n") - expected) / expected, 6).alias(
            "chi2"
        ),
    ).orderBy("row", col_name)


# ---------------------------------------------------------------------------
# Distribution entropy per group
# ---------------------------------------------------------------------------

def group_entropy(
    df: DataFrame,
    group_col: str,
    unit_col: str,
) -> DataFrame:
    """Shannon entropy (nats) of how a group's rows distribute over
    units — e.g. how concentrated each event type is across users (low
    entropy = dominated by few users; a hot-key / abuse signal).

    Returns (group, n, n_units, entropy) ordered by group, rounded 6 dp.

    Scale shape: one (group, unit) aggregate (map-side combined), then
    the entropy sum over the per-unit counts of each group — a second
    small aggregate over distinct pairs, never the raw rows again.
    """
    pairs = (
        df.select(F.col(group_col).alias("grp"), F.col(unit_col).alias("unit"))
        .groupBy("grp", "unit")
        .agg(F.count("*").alias("c"))
    )
    wg = Window.partitionBy("grp")
    p = F.col("c") / F.sum("c").over(wg)
    return (
        pairs.withColumn("_t", -p * F.log(p))
        .groupBy("grp")
        .agg(
            F.sum("c").alias("n"),
            F.count("*").alias("n_units"),
            F.round(F.sum("_t"), 6).alias("entropy"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# SCD2 change intervals
# ---------------------------------------------------------------------------

def scd2_intervals(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str = "ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Collapse a change log into SCD-type-2 validity intervals: one row
    per (key, attribute-run) with [valid_from, valid_to) bounds; the
    current value's valid_to is NULL.

    Consecutive equal attribute values merge into one interval (only
    change points survive).  NULL attribute values are values: a change
    TO NULL opens a NULL interval (null-safe comparison; the first row
    of a key is always a change point even when its value is NULL).

    Scale shape: two window passes (lag to find change points, lead for
    the interval close) over the SAME (key, ts) ordering — one exchange;
    the change-point filter between them runs in place.
    """
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    # lag of a constant distinguishes "first row" from "previous attr
    # was NULL"; eqNullSafe makes NULL a comparable value
    first = F.lag(F.lit(1)).over(w).isNull()
    changed = first | ~F.lag(attr_col).over(w).eqNullSafe(F.col(attr_col))
    cols = [key_col, attr_col, ts_col] + ([tiebreak_col] if tiebreak_col else [])
    points = df.select(*cols).withColumn("_chg", changed).filter("_chg")
    w2 = Window.partitionBy(key_col).orderBy(*order)
    return points.select(
        F.col(key_col),
        F.col(attr_col),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
    )


# ---------------------------------------------------------------------------
# Data-quality constraint report (Deequ-style)
# ---------------------------------------------------------------------------

def dq_report(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Evaluate named boolean constraint columns in ONE scan and report
    (check_name, n_pass, n_fail, pass_rate) per check.

    ``checks`` maps a check name to a boolean Column over ``df``'s rows
    (completeness, range, set-membership, pattern…).  A NULL verdict
    counts as fail — constraints must prove themselves.

    Scale shape: every check is a conditional SUM in one aggregate over
    one scan (single-row reduce, no shuffle of data rows); the per-check
    unpivot happens on that one row driver-side-free via stack().
    """
    names = list(checks)
    agg = df.agg(
        F.count("*").alias("_n"),
        *[
            F.sum(F.when(c, 1).otherwise(0)).alias(f"_p{i}")
            for i, c in enumerate(checks.values())
        ],
    )
    # names land inside a SQL string literal — escape quotes so a
    # natural-language check name ("o'clock rule") can't break the expr
    stack_args = ", ".join(
        "'{}', _p{}".format(n.replace("'", "''"), i) for i, n in enumerate(names)
    )
    return agg.select(
        F.expr(f"stack({len(names)}, {stack_args}) as (check_name, n_pass)"),
        F.col("_n"),
    ).select(
        "check_name",
        F.col("n_pass").cast("long").alias("n_pass"),
        (F.col("_n") - F.col("n_pass")).cast("long").alias("n_fail"),
        F.round(F.col("n_pass") / F.col("_n"), 6).alias("pass_rate"),
    ).orderBy("check_name")


# ---------------------------------------------------------------------------
# Blocked fuzzy record linkage
# ---------------------------------------------------------------------------

def blocked_fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_len: int = 16,
    max_dist: int = 1,
) -> DataFrame:
    """Candidate near-duplicate record pairs by edit distance WITHIN
    blocking-key groups — the standard record-linkage shape: an exact
    equi-join on a cheap blocking key (name prefix) bounds the quadratic
    comparison to each block, then Levenshtein filters survivors.

    Returns (a, b, dist) with a < b, ordered.

    Scale shape: one shuffle on the block key for the self-join; the
    O(block²) comparisons stay inside each join group, so total cost is
    Σ block² — the operator's contract is that the blocking key keeps
    blocks small (callers pick ``block_len`` for their key
    distribution).  Levenshtein is a JVM built-in (codegen), no Python.
    """
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(name_col).alias("_nm"),
        F.substring(F.col(name_col), 1, block_len).alias("_blk"),
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(b, on=(F.col("a._blk") == F.col("b._blk")) & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("a"),
            F.col("b._id").alias("b"),
            F.levenshtein(F.col("a._nm"), F.col("b._nm")).alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
        .orderBy("a", "b")
    )


def sql_shape_exemplars(
    records: DataFrame,
    sql_col: str = "description",
    time_col: str = "execute_time",
    locator_cols: tuple[str, ...] = ("conv_id", "turn_idx", "rec_idx"),
    top_k: int = 5,
) -> DataFrame:
    """Worst-case exemplar per statement shape — the other half of a
    pt-query-digest report: for each of the ``top_k`` highest-volume
    shapes, the slowest occurrence's latency and its locator, so an
    operator can jump from a shape to a concrete offending record.

    Returns (shape, n, worst_ms, *locator_cols) ordered by (n desc,
    shape).  The argmax is ``max(struct(time, *locator))`` — struct
    ordering puts NULL first, so an all-untimed shape still yields a
    deterministic exemplar (largest locator) with ``worst_ms`` NULL.

    Scale shape: same single map-side-combined aggregate as
    :func:`sql_shape_digest` — the struct max is just a wider partial.
    """
    shaped = records.select(
        normalize_sql_shape(sql_col).alias("shape"),
        F.struct(F.col(time_col).alias("_t"), *locator_cols).alias("_w"),
    )
    return (
        shaped.groupBy("shape")
        .agg(F.count("*").alias("n"), F.max("_w").alias("_w"))
        .select(
            "shape",
            "n",
            F.col("_w._t").alias("worst_ms"),
            *[F.col(f"_w.{c}").alias(c) for c in locator_cols],
        )
        .orderBy(F.desc("n"), "shape")
        .limit(top_k)
    )


# ---------------------------------------------------------------------------
# Conversation reply latency
# ---------------------------------------------------------------------------

def reply_latency(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
    role_from: str = "user",
    role_to: str = "assistant",
) -> DataFrame:
    """Per-turn reply latency in a multi-turn transcript: for every
    ``role_from`` turn, microseconds until the NEXT ``role_to`` turn in
    the same conversation (by turn order).  Unanswered turns drop.

    Returns (conv_col, order_col, latency_us).

    Scale shape: one window exchange on the conversation key; the
    "next matching role" lookup is FIRST(… ignorenulls) over the
    following-rows frame — no self-join, no per-conversation collect.
    """
    w = (
        Window.partitionBy(conv_col)
        .orderBy(order_col)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = F.first(
        F.when(F.col(role_col) == role_to, F.col(ts_col)), ignorenulls=True
    ).over(w)
    return (
        df.select(conv_col, order_col, role_col, ts_col)
        .withColumn("_nxt", nxt)
        .filter((F.col(role_col) == role_from) & F.col("_nxt").isNotNull())
        .select(
            conv_col,
            order_col,
            (
                F.unix_micros(F.col("_nxt").cast("timestamp"))
                - F.unix_micros(F.col(ts_col).cast("timestamp"))
            ).alias("latency_us"),
        )
    )


# ---------------------------------------------------------------------------
# Anomaly detection: per-group z-score outliers
# ---------------------------------------------------------------------------

def zscore_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    threshold: float = 3.0,
) -> DataFrame:
    """Rows whose value deviates more than ``threshold`` sample standard
    deviations from their group mean.

    Returns the group/value columns plus ``z`` (rounded to 6 dp; the
    threshold test runs on the ROUNDED z so engines with different
    float-summation orders agree on boundary rows).

    Scale shape: mean/stddev are one window over the group partitioning —
    a single exchange; the outlier filter is in-place.  Groups with
    stddev 0 or one row yield no outliers (NULL z filters out).
    """
    w = Window.partitionBy(group_col)
    s = F.stddev_samp(value_col).over(w)
    z = F.when(
        s > 0,
        F.round((F.col(value_col) - F.avg(value_col).over(w)) / s, 6),
    )
    return (
        df.select(group_col, value_col)
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > threshold)
    )


# ---------------------------------------------------------------------------
# Markov transition matrix of event types
# ---------------------------------------------------------------------------

def event_transitions(
    df: DataFrame,
    key_col: str,
    type_col: str,
    ts_col: str = "ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """First-order Markov transition counts and probabilities between
    consecutive event types within each key's timeline.

    Returns (src, dst, n, p) where p = n / Σ n over src, rounded 6 dp
    (integer ratio — engine-independent).

    Scale shape: one exchange for the per-key LEAD window, then a
    (src, dst)-key aggregate of pairs (map-side combined); the per-src
    total is a window over the already-tiny transition matrix.
    """
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    pairs = (
        df.select(key_col, F.col(type_col).alias("src"), *order[0:])
        .withColumn("dst", F.lead("src").over(w))
        .filter(F.col("dst").isNotNull())
    )
    counts = pairs.groupBy("src", "dst").agg(F.count("*").alias("n"))
    tot = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
    ).orderBy("src", "dst")


# ---------------------------------------------------------------------------
# Daily trend: moving average + day-over-day delta
# ---------------------------------------------------------------------------

def daily_trend(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Per-type daily event counts with a trailing ``window_days``-day
    moving average and the day-over-day delta.

    Returns (event_type, day, n, ma, delta) — ma is AVG over the last
    ``window_days`` PRESENT days (integer counts ⇒ exact sums ⇒
    engine-identical doubles), delta is n - lag(n).

    Scale shape: the daily rollup shuffles once on (type, day) — already
    map-side combined — and both windows run over the tiny daily series.
    """
    daily = (
        df.groupBy(F.col(type_col).alias("event_type"), F.to_date(ts_col).alias("day"))
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(window_days - 1), 0)
    )
    wl = Window.partitionBy("event_type").orderBy("day")
    return daily.select(
        "event_type",
        "day",
        "n",
        F.round(F.avg("n").over(w), 6).alias("ma"),
        (F.col("n") - F.lag("n").over(wl)).alias("delta"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Fixed-width histogram
# ---------------------------------------------------------------------------

def value_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    bins: int,
    group_col: str | None = None,
) -> DataFrame:
    """Fixed-width histogram of a numeric column: bin index in
    [0, bins-1] (values outside [lo, hi) clamp to the edge bins), count
    per (group, bin).

    Bin assignment is FLOOR((v - lo) / width) — the identical double
    expression on every engine, so bucket boundaries cannot drift.

    Scale shape: pure projection + one small-key aggregate (≤ groups ×
    bins rows), map-side combined.
    """
    width = (hi - lo) / bins
    raw = F.floor((F.col(value_col) - lo) / width)
    bin_c = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("int")
    keys = ([group_col] if group_col else []) + ["bin"]
    return (
        df.withColumn("bin", bin_c)
        .groupBy(*keys)
        .agg(F.count("*").alias("n"))
        .orderBy(*keys)
    )


# ---------------------------------------------------------------------------
# Exact heavy hitters (two-pass: Misra-Gries candidates → exact verify)
# ---------------------------------------------------------------------------

def heavy_hitters(
    df: DataFrame,
    item_col: str,
    threshold_frac: float = 0.01,
) -> DataFrame:
    """EXACT frequent items above a frequency fraction, computed without
    ever shuffling the full keyspace — the shape that finds vocabulary /
    hot-key heavy hitters in 100 TB of tokens:

    pass 1: per-partition Misra-Gries summaries with capacity
        ceil(1/threshold_frac).  MG guarantees every item with GLOBAL
        frequency > threshold_frac·n survives in at least one
        partition's summary (an item absent from every summary has
        per-partition freq ≤ ε·n_p everywhere, so global ≤ ε·n), so the
        union of candidates is a superset of the answer.  Candidate
        volume is ≤ capacity per partition — KBs, not the keyspace.
    pass 2: exact counts of the candidates only, via a broadcast
        semi-join filter before the groupBy — the shuffle carries just
        candidate-item rows.

    Returns (item, n) for items with n ≥ ceil(threshold_frac · total),
    ordered by (n desc, item).  Exact — the sketch only bounds the
    candidate set, never the reported counts.

    The input is scanned exactly TWICE: the MG pass also emits each
    partition's row count (one NULL-item row per partition), so the
    global total needs no separate counting job; the tiny sketch output
    (≤ capacity × #partitions rows) is reduced once and its candidate
    set collected driver-side — the bounded-sample pattern — so the
    RETURNED plan is pure JVM (local-relation broadcast semi-join).
    """
    import math

    import pandas as pd

    cap = max(1, math.ceil(1.0 / threshold_frac))
    # r6 note: do NOT _spread_compact_input here — ``df`` is often an
    # exploded frame (tokens), and a repartition at this point shuffles
    # the exploded rows (measured 2x slower than not spreading at all).
    # Callers with a compact single-file source should spread BEFORE the
    # exploding projection (see q_heavy_hitters), where the exchange moves
    # compact pre-explosion rows.
    items = df.select(F.col(item_col).alias("item"))

    def mg(batches):
        # vectorized Misra-Gries: per Arrow batch, value_counts (C speed)
        # merged into the summary, then the mergeable-summaries trim
        # (Agarwal et al., "Mergeable Summaries", PODS'12): subtract the
        # (cap+1)-th largest count from all and drop non-positive — the
        # same error bound (undercount ≤ n_p/(cap+1)) as row-at-a-time MG
        counters = pd.Series(dtype="int64")
        n_rows = 0
        for pdf in batches:
            n_rows += len(pdf)
            counters = counters.add(pdf["item"].value_counts(), fill_value=0)
            if len(counters) > cap:
                kth = counters.nlargest(cap + 1).iloc[-1]
                counters = counters.sub(kth)
                counters = counters[counters > 0]
        # candidates + one NULL-item row carrying the partition row count
        yield pd.DataFrame(
            {
                "item": list(counters.index.astype(str)) + [None],
                "part_rows": [0] * len(counters) + [n_rows],
            }
        )

    sketch = items.mapInPandas(mg, "item string, part_rows long").persist()
    try:
        # ONE materialization of the sketch serves both outputs.  The
        # candidate set is bounded by cap × #partitions (KBs–MBs — the
        # same order as the broadcast it feeds), so collecting it to the
        # driver is the bounded-sample pattern, and the returned plan is
        # then pure JVM (local relation broadcast + semi join + agg).
        rows = sketch.groupBy("item").agg(F.sum("part_rows").alias("pr")).collect()
        total = sum(r["pr"] for r in rows)
        cand = [(r["item"],) for r in rows if r["item"] is not None]
    finally:
        sketch.unpersist()
    spark = df.sparkSession
    candidates = spark.createDataFrame(cand, "item string")
    min_n = math.ceil(threshold_frac * total)
    return (
        items.join(F.broadcast(candidates), "item", "left_semi")
        .groupBy("item")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_n)
        .orderBy(F.desc("n"), "item")
    )


# ---------------------------------------------------------------------------
# BM25 relevance ranking
# ---------------------------------------------------------------------------

def bm25_rank(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Okapi BM25 ranking of documents against a bag of query terms.

    Returns (doc_id, score) — top ``top_k`` by (score desc, doc_id),
    score rounded to 6 dp so float summation order can't flip ranks
    between engines.

    idf uses the standard smoothed form ln(1 + (N - df + 0.5)/(df + 0.5)).

    Scale shape: term frequencies are per-row array ops (no explode of
    the corpus); df/N/avgdl are a tiny per-term aggregate broadcast back
    (scalar subquery shape).  The corpus is scanned twice (stats, then
    scores) but never shuffled — at 100 TB the stats pass is the
    column-pruned (id, text) scan and the score pass streams.
    """
    from sqllog_analysis_spark.operators.dedup import _spread_compact_input

    # r6: the tf/dl extraction is CPU-bound per row; a compact single-file
    # corpus otherwise pins BOTH scans of it to one scan partition (guide
    # §2.5 input skew).  No-op for multi-file inputs at scale.
    # (regexp_count and replace-based token counting were both measured
    # SLOWER than the token-array higher-order filters — see
    # OPTIMIZATION_r06.md; the parallelism, not the per-row idiom, was the
    # bottleneck.)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = _spread_compact_input(docs).select(
        F.col(id_col).alias("doc_id"), toks.alias("_t")
    ).withColumn("dl", F.size("_t"))
    for i, t in enumerate(query_terms):
        base = base.withColumn(
            f"tf{i}",
            F.size(F.filter("_t", lambda x: x == F.lit(t))).cast("double"),
        )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        idf = F.log(
            1.0
            + (F.col("n_docs") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
        )
        tf = F.col(f"tf{i}")
        denom = tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        score = score + idf * (tf * (k1 + 1)) / denom
    return (
        scored.select("doc_id", F.round(score, 6).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), "doc_id")
        .limit(top_k)
    )
