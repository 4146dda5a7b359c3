"""As-of (point-in-time) join — the temporal operator Spark's DataFrame
API lacks but every log/telemetry pipeline needs: attach to each left row
the most recent right row at-or-before its timestamp (``backward``), or
the earliest at-or-after (``forward``).

Implementation is the canonical scale-safe union-tag shape, NOT a range
cross-join: left and right are unioned with a tag column, ONE shuffle
partitions by key, and a running ``last(ignorenulls)`` window over
``(ts, tag)`` carries the latest right payload forward onto each left
row.  Cost is a single exchange + per-key sort-merge — the same profile
as a groupBy — versus the O(|L|·|R|) per-key blowup of the naive
``l.ts >= r.ts`` theta-join.  Keys hash-partition uniformly; a mega-key
(one user with 10^9 events) still serializes its own window sort.

Ties: a right row at exactly the left timestamp IS visible (tag orders
right-before-left within equal ts), matching DuckDB's ``ASOF JOIN ...
ON l.ts >= r.ts`` — the driver contract hash-checks this operator
against that native implementation.  Right rows must be unique per
(key, ts) for a deterministic result; ``dedupe_right=True`` enforces it
by keeping the lexicographically greatest payload struct per (key, ts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_TAG = "_asof_tag"
_TS = "_asof_ts"

_RESERVED = (_TAG, _TS, "_m")


def _checked_rcols(left, right, key, right_ts) -> list:
    """Right payload columns, after the name-clash and
    reserved-scratch-name checks."""
    rcols = [c for c in right.columns if c not in (*key, right_ts)]
    clash = set(rcols) & set(left.columns)
    if clash:
        raise ValueError(f"right payload columns collide with left: {sorted(clash)}")
    if not rcols:
        raise ValueError("right side has no payload columns")
    bad = set(_RESERVED) & (set(left.columns) | set(right.columns))
    if bad:
        raise ValueError(
            f"input columns collide with internal scratch names: {sorted(bad)}"
        )
    return rcols


def _carried_struct(w, rcols):
    """Running last-right-row carry: ONE struct holds (matched ts,
    payload) so a NULL inside a right row's payload never falls back to
    an older right row — the whole latest-qualifying row wins or none
    does, exactly like a real join."""
    return F.last(
        F.when(F.col(_TAG) == 0, F.struct(F.col(_TS).alias("_mts"), *rcols)),
        ignorenulls=True,
    ).over(w)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    direction: str = "backward",
    tolerance_seconds: float | None = None,
    dedupe_right: bool = False,
) -> DataFrame:
    """Left as-of join: every left row, plus the matched right payload
    columns (NULL where no right row qualifies).

    ``tolerance_seconds`` additionally voids matches farther than that
    from the left timestamp (pandas ``merge_asof`` semantics).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    key = [on] if isinstance(on, str) else list(on)
    rcols = _checked_rcols(left, right, key, right_ts)

    r = right.select(*key, F.col(right_ts).alias(_TS), *rcols)
    if dedupe_right:
        packed = r.groupBy(*key, _TS).agg(
            F.max(F.struct(*rcols)).alias("_p")
        )
        r = packed.select(*key, _TS, *[F.col(f"_p.{c}").alias(c) for c in rcols])
    r = r.withColumn(_TAG, F.lit(0))

    lcols = left.columns
    l_ = left.withColumn(_TS, F.col(left_ts)).withColumn(_TAG, F.lit(1))
    u = l_.unionByName(r, allowMissingColumns=True)

    # backward: right rows flow forward in ascending (ts, tag) order;
    # forward: the same machinery over descending ts (tag still orders a
    # same-ts right row before the left row that may match it).
    if direction == "backward":
        order = [F.col(_TS).asc(), F.col(_TAG).asc()]
    else:
        order = [F.col(_TS).desc(), F.col(_TAG).asc()]
    w = (
        Window.partitionBy(*key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select("*", _carried_struct(w, rcols).alias("_m")).filter(
        F.col(_TAG) == 1
    )
    ok = F.col("_m").isNotNull()
    if tolerance_seconds is not None:
        # NTZ-safe numeric distance (Spark 4 forbids NTZ→numeric direct)
        dist = F.abs(
            F.col(_TS).cast("timestamp").cast("double")
            - F.col("_m._mts").cast("timestamp").cast("double")
        )
        ok = ok & (dist <= tolerance_seconds)
    payload = [F.when(ok, F.col(f"_m.{c}")).alias(c) for c in rcols]
    return filled.select(*lcols, *payload)
