"""Deterministic synthetic transcripts corpus (FIXTURES.md §1-§3).

The pipeline's input table ``transcripts(conv_id, turn_idx, role, text,
tool, ts)``.  Text payloads follow the reference's own test grammar
(/root/reference/tests/sqllog_tests.rs) so the Spark parser and the
pure-Python oracle can be cross-checked on strings the reference provably
handles.  Fully seeded — same (n_turns, seed) ⇒ identical corpus.

Conversation sizes are Zipf-skewed so a few mega-conversations exist
(the skew-handling test), and rows are shuffled on disk so any ordering
must come from the parse stage's (conv_id, turn_idx) sort, not file order.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

BASE_EPOCH = pd.Timestamp("2025-09-16 00:00:00")

ROLES = np.array(["user", "assistant", "tool", "system"])
ROLE_P = np.array([0.35, 0.40, 0.20, 0.05])
TOOLS = np.array(["sql_exec", "search", "code_run", "file_read", "web_fetch"])
USERS = np.array(["SYSDBA", "EDM_BASE", "APP_RW", "usr", "ETL_JOB"])
APPS = np.array(["TestApp", "dm-console", "etl_loader", "web-api"])
SQL_TYPES = np.array(["SEL", "INS", "UPD", "DEL", "ORA"])
SQL_BODIES = [
    "select 1",
    "select * from users where id = ?",
    "update orders set status = 'done' where o_id = ?",
    "insert into audit_log values (?, ?, ?)",
    "delete from sessions where expired = 1",
]

# text payload classes and their mix (FIXTURES.md §2)
CLASSES = [
    ("valid_metrics", 0.50),
    ("multiline", 0.10),
    ("params", 0.08),
    ("no_metrics", 0.09),
    ("partial_metrics", 0.03),
    ("edge_header", 0.05),
    ("tool_call", 0.05),
    ("err_code", 0.03),
    ("bad_header", 0.025),
    ("no_timestamp", 0.025),
    ("utf8_garbage", 0.01),
    ("whitespace", 0.005),
    ("malformed_metrics", 0.005),
]
CLASS_NAMES = [c for c, _ in CLASSES]
CLASS_P = np.array([p for _, p in CLASSES])
CLASS_P = CLASS_P / CLASS_P.sum()


def _ts_str(ts: pd.Timestamp) -> str:
    return ts.strftime("%Y-%m-%d %H:%M:%S.") + f"{ts.microsecond // 1000:03d}"


def _header(rng: np.random.Generator, ts: pd.Timestamp, edge: bool = False) -> str:
    ep = rng.integers(0, 4)
    sess = "NULL" if rng.random() < 0.2 else f"0x{rng.integers(0, 2**36):09x}"
    thrd = rng.choice(["NULL", "-1", str(rng.integers(1, 5_000_000))], p=[0.1, 0.05, 0.85])
    user = "NULL" if rng.random() < 0.15 else str(rng.choice(USERS))
    trx = "NULL" if rng.random() < 0.2 else str(rng.integers(1, 10**12))
    stmt = "NULL" if rng.random() < 0.3 else f"0x{rng.integers(0, 2**36):09x}"
    h = f"{_ts_str(ts)} (EP[{ep}] sess:{sess} thrd:{thrd} user:{user} trxid:{trx} stmt:{stmt}"
    r = rng.random()
    if edge:
        # edge headers from tests/sqllog_tests.rs:353-384, 590-596
        pick = rng.integers(0, 4)
        if pick == 0:
            h += " appname:  ip:"  # appname = one space, ip NULL
        elif pick == 1:
            h += f" appname: ip:::ffff:{rng.integers(1,255)}.{rng.integers(0,255)}.{rng.integers(0,255)}.{rng.integers(1,255)}"
        elif pick == 2:
            h += " appname:!@# ip:!@#"  # appname captures '!@# ip:!@#'
        # pick == 3: no appname/ip at all
    elif r < 0.5:
        app = str(rng.choice(APPS))
        ip = f"{rng.integers(1,255)}.{rng.integers(0,255)}.{rng.integers(0,255)}.{rng.integers(1,255)}"
        h += f" appname:{app} ip:{ip}"
    elif r < 0.6:
        h += " appname: ip:"
    return h + ")"


def _metrics(rng: np.random.Generator) -> tuple[int, str]:
    # long-tailed EXECTIME so a slow-query threshold splits meaningfully
    et = int(np.exp(rng.normal(4.2, 1.6)))
    return et, f"EXECTIME: {et}(ms) ROWCOUNT: {rng.integers(0, 100000)} EXEC_ID: {rng.integers(1, 10**9)}."


def _make_text(rng: np.random.Generator, cls: str, ts: pd.Timestamp, tool: str | None) -> str:
    tag = f"[{rng.choice(SQL_TYPES)}]: " if rng.random() < 0.9 else ""
    body = SQL_BODIES[int(rng.integers(0, len(SQL_BODIES)))]
    h = _header(rng, ts, edge=(cls == "edge_header"))
    if cls in ("valid_metrics", "edge_header"):
        _, mline = _metrics(rng)
        return f"{h} {tag}{body} {mline}"
    if cls == "multiline":
        _, mline = _metrics(rng)
        lines = [body] + [f"  and col_{i} = {int(rng.integers(0, 99))}" for i in range(int(rng.integers(1, 4)))]
        return f"{h} {tag}" + "\n".join(lines) + "\n" + mline
    if cls == "params":
        inner = ", ".join(
            f"({i}, NUMBER, {int(rng.integers(0, 10**6))})" for i in range(int(rng.integers(1, 4)))
        )
        multi = "(19, VARCHAR2, '\n1\n1')" if rng.random() < 0.3 else "(2, VARCHAR2, 'CS_c768d88f3a07')"
        return f"{h} PARAMS(SEQNO, TYPE, DATA)={{{inner}, {multi}}}"
    if cls == "no_metrics":
        return f"{h} {tag}{body}"
    if cls == "partial_metrics":
        return f"{h} {tag}{body} EXECTIME: {int(rng.integers(1, 5000))}(ms)"
    if cls == "malformed_metrics":
        return f"{h} {tag}{body} EXECTIME: abc(ms) ROWCOUNT: def EXEC_ID: ghi."
    if cls == "tool_call":
        t = tool or str(rng.choice(TOOLS))
        _, mline = _metrics(rng)
        return f"{h} {tag}TOOL_CALL: {t}(arg={int(rng.integers(0, 999))}) {mline}"
    if cls == "err_code":
        code = -7000 - int(rng.integers(0, 99))
        return f"{h} {tag}{body} ERR[{code}]: constraint violation"
    if cls == "bad_header":
        # missing sess field → header regex non-match (sqllog_tests.rs:422)
        return f"{_ts_str(ts)} (EP[{int(rng.integers(0,4))}] thrd:1 user:U trxid:1 stmt:0x2) test"
    if cls == "no_timestamp":
        return rng.choice(["not a log", "完全不匹配的内容", "random junk line"])
    if cls == "utf8_garbage":
        # planted replacement chars + resync to an embedded valid record
        _, mline = _metrics(rng)
        return f"�\x01garbled {h} {tag}{body} {mline}"
    if cls == "whitespace":
        return "   \n\t  "
    raise AssertionError(cls)


def generate_transcripts(
    n_turns: int, seed: int = 42, hot_frac: float = 0.0
) -> pd.DataFrame:
    """Build the corpus as a pandas DataFrame (shuffled row order).

    ``hot_frac > 0`` plants one MEGA-conversation holding that fraction of
    all turns, timestamped within a single day — the skew-stress shape
    (one hot conv_id AND one hot (category, dt) sink partition)."""
    rng = np.random.default_rng(seed)

    # Zipf-skewed conversation sizes, capped; a handful of mega-convs
    sizes: list[int] = []
    total = 0
    if hot_frac > 0:
        sizes.append(int(n_turns * hot_frac))
        total = sizes[0]
    while total < n_turns:
        s = min(int(rng.zipf(1.4)), 2000)
        if total + s > n_turns:
            s = n_turns - total
        sizes.append(s)
        total += s

    conv_ids: list[str] = []
    turn_idx = np.empty(n_turns, dtype=np.int32)
    ts_vals = np.empty(n_turns, dtype="datetime64[us]")
    pos = 0
    for ci, s in enumerate(sizes):
        conv_ids.extend([f"conv_{ci:06d}"] * s)
        turn_idx[pos : pos + s] = np.arange(s, dtype=np.int32)
        base = BASE_EPOCH + pd.Timedelta(seconds=int(ci) * 137)
        if ci == 0 and hot_frac > 0:
            # the planted mega-conversation stays inside ONE calendar day
            # so its sink partition (category, dt) is hot too
            incs = (np.arange(s, dtype=np.int64) * 86000) // max(s, 1)
        else:
            incs = np.cumsum(rng.integers(1, 90, size=s))
        ts_vals[pos : pos + s] = (base.to_datetime64() + incs * np.timedelta64(1, "s"))
        pos += s

    roles = rng.choice(ROLES, size=n_turns, p=ROLE_P)
    tools = np.where(roles == "tool", rng.choice(TOOLS, size=n_turns), None)
    classes = rng.choice(CLASS_NAMES, size=n_turns, p=CLASS_P)

    # ~0.5% of conversations are fully degenerate (no valid line at all)
    n_convs = len(sizes)
    degen = set(rng.choice(n_convs, size=max(1, n_convs // 200), replace=False).tolist())
    if hot_frac > 0:
        degen.discard(0)  # the planted hot conversation must route records

    texts: list[str] = []
    for i in range(n_turns):
        ci = int(conv_ids[i][5:])
        ts_i = pd.Timestamp(ts_vals[i])
        if ci in degen:
            cls = "whitespace" if rng.random() < 0.3 else "no_timestamp"
        else:
            cls = str(classes[i])
        texts.append(_make_text(rng, cls, ts_i, tools[i]))

    df = pd.DataFrame(
        {
            "conv_id": conv_ids,
            "turn_idx": turn_idx,
            "role": roles,
            "text": texts,
            "tool": tools,
            "ts": ts_vals,
        }
    )
    return df.iloc[rng.permutation(n_turns)].reset_index(drop=True)


def write_transcripts(
    path: str,
    n_turns: int,
    seed: int = 42,
    row_group_size: int = 50_000,
    shards: int = 1,
    hot_frac: float = 0.0,
) -> str:
    """Write the corpus to parquet (pyarrow, no Spark needed) → path.

    Small row groups so Spark can split the file into parallel scan tasks
    (a single-row-group file is one task no matter how many cores).

    ``shards > 1`` writes a DIRECTORY of that many part files
    (deterministic round-robin) — the realistic shape of any
    distributed-written dataset, and what lets the initial scan parallelize
    without tiny maxPartitionBytes tuning.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = generate_transcripts(n_turns, seed, hot_frac=hot_frac)
    if shards <= 1:
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False), path, row_group_size=row_group_size
        )
        return path
    os.makedirs(path, exist_ok=True)
    for i in range(shards):
        part = df.iloc[i::shards]
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(path, f"part-{i:04d}.parquet"),
            row_group_size=row_group_size,
        )
    return path


def role_tool_dim_rows() -> list[dict]:
    """Broadcast-side lookup dim (FIXTURES.md §3): exact (role, tool) rows
    plus a per-role default row (tool=None)."""
    rows = []
    weights = {"sql_exec": 3.0, "search": 1.5, "code_run": 2.0, "file_read": 0.5, "web_fetch": 1.0}
    for role in ROLES:
        rows.append(
            {"role": str(role), "tool": None, "category_hint": "chat", "cost_weight": 1.0}
        )
        for t, w in weights.items():
            rows.append(
                {"role": str(role), "tool": t, "category_hint": "tool_call", "cost_weight": w}
            )
    return rows
