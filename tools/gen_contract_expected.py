"""Generate hard oracle values for the three pipeline_* contract queries.

The driver's correctness gate can only hash-check queries whose oracle is
expressible as DuckDB SQL over its registered views — and the transcript
corpus is not a registered view, so round 1/2 left pipeline_sink_counts /
pipeline_errors / pipeline_conv_buckets as rows-only checks.

This tool closes that gap WITHOUT circularity: it computes the expected
outputs from the PURE-PYTHON oracle (sqllog_analysis_spark/oracle.py — the
row-at-a-time port of the reference parser, itself pinned by pytest truth
tables against /root/reference) plus a ~60-line pure-Python re-statement
of the routing/degenerate rules, over the deterministic seed-42 contract
corpus.  The values land in sqllog_analysis_spark/contract_expected.py as
literals, and __spark_entry__.oracle_sql() serves them to DuckDB as
constant VALUES relations — a genuine foreign-engine hash check of the
whole Spark pipeline graph (parse → enrich → route → degenerate rule →
aggregate).

Re-run after any intentional change to the corpus generator, the parser
semantics, or the routing rules:

    python tools/gen_contract_expected.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sqllog_analysis_spark.operators.loganalytics import (  # noqa: E402
    normalize_sql_shape_py,
)
from sqllog_analysis_spark.oracle import parse_turn_text  # noqa: E402
from sqllog_analysis_spark.operators.routing import (  # noqa: E402
    ERR_CODE_RE,
    TOOL_CALL_RE,
)
from sqllog_analysis_spark.sources.transcripts import generate_transcripts  # noqa: E402

SLOW_MS = 1000  # plans/pipeline.py build() default, used by _pipeline_graph

# The driver evaluates oracles at sf=0.01 → n = max(2000, 0.01*2_000_000)
# (__spark_entry__._transcripts_path); FULL corpus sizes for every sf the
# contract might run at are cheap to emit, keyed by n_turns.
CONTRACT_NS = (2000, 20000, 200000)
SEED = 42


def categorize(rec) -> str:
    """Pure-Python mirror of operators/routing.py:route_records."""
    m = re.search(ERR_CODE_RE, rec.description)
    if m:
        return "error"
    if rec.execute_time is not None and rec.execute_time >= SLOW_MS:
        return "slow_query"
    if re.search(TOOL_CALL_RE, rec.description):
        return "tool_call"
    return "chat"


def expected_for(n_turns: int, seed: int = SEED) -> dict:
    df = generate_transcripts(n_turns, seed)

    conv_has_ts: dict[str, bool] = {}
    conv_errors: dict[str, list] = {}
    conv_records: dict[str, list] = {}
    shapes: dict[str, tuple[int, int, int]] = {}
    for conv_id, turn_idx, text in zip(df["conv_id"], df["turn_idx"], df["text"]):
        records, errors, has_ts = parse_turn_text(text)
        conv_has_ts[conv_id] = conv_has_ts.get(conv_id, False) or has_ts
        conv_errors.setdefault(conv_id, []).extend(errors)
        # rec_idx: records number 0.. within their turn (parse.py:167-170)
        conv_records.setdefault(conv_id, []).extend(
            (r, int(turn_idx), ri) for ri, r in enumerate(records)
        )

    degen = {c for c, h in conv_has_ts.items() if not h}

    # records after the degenerate-conversation drop (functions/parse.py
    # _by_conversation)
    counts: dict[str, int] = {}
    max_exec: dict[str, int | None] = {}
    exemplars: dict[str, tuple] = {}
    for conv_id, recs in conv_records.items():
        if conv_id in degen:
            continue
        for r, turn_idx, rec_idx in recs:
            cat = categorize(r)
            counts[cat] = counts.get(cat, 0) + 1
            if r.execute_time is not None:
                cur = max_exec.get(cat)
                max_exec[cat] = r.execute_time if cur is None else max(cur, r.execute_time)
            else:
                max_exec.setdefault(cat, None)
            # sql_shapes digest (loganalytics.sql_shape_digest mirror)
            s = normalize_sql_shape_py(r.description)
            n, nt, tot = shapes.get(s, (0, 0, 0))
            shapes[s] = (
                n + 1,
                nt + (r.execute_time is not None),
                tot + (r.execute_time or 0),
            )
            # worst-case exemplar (loganalytics.sql_shape_exemplars):
            # Spark's max(struct(t, conv, turn, rec)) with NULL-first
            # struct ordering ≙ this tuple key
            key = (
                r.execute_time is not None,
                r.execute_time or 0,
                conv_id,
                turn_idx,
                rec_idx,
            )
            if s not in exemplars or key > exemplars[s][0]:
                exemplars[s] = (key, (r.execute_time, conv_id, turn_idx, rec_idx))

    # errors: normal convs pass all; degenerate convs pass all iff a
    # Utf8-class error exists, else exactly one synthetic row (io.rs:147-167)
    n_errors = 0
    for conv_id, errs in conv_errors.items():
        if conv_id not in degen:
            n_errors += len(errs)
        elif any(e.error_class == "Utf8" for e in errs):
            n_errors += len(errs)
        else:
            n_errors += 1
    # degenerate convs can exist with zero collected errors only if every
    # turn was empty-flushed; they still emit the synthetic row — covered
    # above because conv_errors has an entry for every conv.

    top15 = sorted(shapes.items(), key=lambda kv: (-kv[1][0], kv[0]))[:15]
    # same ranking, same list — top-5 exemplars can't diverge from top15
    ex_top5 = [(s, n, *exemplars[s][1]) for s, (n, _, _) in top15[:5]]

    # reply_latency (loganalytics.reply_latency mirror): per user turn,
    # µs until the next assistant turn in the same conversation
    import numpy as np

    lat: list[int] = []
    for _, conv in df.sort_values(["conv_id", "turn_idx"]).groupby("conv_id"):
        roles = conv["role"].tolist()
        # dtype is datetime64[us]: int64 view IS microseconds already
        ts_us = conv["ts"].astype("datetime64[us]").astype("int64").tolist()
        nxt_assist = [None] * len(roles)
        nxt = None
        for i in range(len(roles) - 1, -1, -1):
            nxt_assist[i] = nxt
            if roles[i] == "assistant":
                nxt = ts_us[i]
        for i, r in enumerate(roles):
            if r == "user" and nxt_assist[i] is not None:
                lat.append(nxt_assist[i] - ts_us[i])
    arr = np.array(sorted(lat), dtype="int64")
    reply = {
        "n_pairs": int(arr.size),
        "avg_us": round(float(arr.mean()), 6),
        "p50_us": round(float(np.percentile(arr, 50, method="linear")), 6),
        "p95_us": round(float(np.percentile(arr, 95, method="linear")), 6),
    }

    return {
        "reply_latency": reply,
        "sink_counts": sorted((c, n) for c, n in counts.items()),
        "n_errors": n_errors,
        "conv_buckets_by_category": sorted(
            (c, counts[c], max_exec.get(c)) for c in counts
        ),
        "sql_shapes_top15": [(s, n, nt, tot) for s, (n, nt, tot) in top15],
        "sql_shape_exemplars_top5": ex_top5,
    }


def main() -> None:
    out: dict[int, dict] = {}
    for n in CONTRACT_NS:
        out[n] = expected_for(n)
        print(n, out[n]["sink_counts"], "errors:", out[n]["n_errors"])

    path = os.path.join(REPO, "sqllog_analysis_spark", "contract_expected.py")
    with open(path, "w") as f:
        f.write(
            '"""GENERATED by tools/gen_contract_expected.py — do not edit.\n\n'
            "Expected pipeline_* contract-query outputs computed by the\n"
            "pure-Python oracle (oracle.py) + pure-Python routing rules over\n"
            f"the deterministic seed-{SEED} transcripts corpus, keyed by\n"
            'n_turns.  Served to DuckDB as constant VALUES relations by\n'
            '__spark_entry__.oracle_sql() so the driver hash-checks the\n'
            'Spark pipeline graph against a foreign computation.\n"""\n\n'
        )
        f.write(f"SEED = {SEED}\n")
        f.write(f"SLOW_MS = {SLOW_MS}\n\n")
        f.write(f"EXPECTED = {out!r}\n")
    print("wrote", path)


if __name__ == "__main__":
    main()
