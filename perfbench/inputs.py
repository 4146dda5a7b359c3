"""Seeded benchmark inputs and their oracle summaries, cached on disk.

Each input is generated once per (workload, size, seed) by the package's
own corpus generator, ``sources.transcripts``, and written to
``.perfbench_work/inputs/<key>/`` under the checkout.  Next to it sits
``expected.json``, the summary the pure-Python oracle computes from the
same parquet bytes Spark reads.  Generation and the oracle run before the
benchmark session starts, so neither counts towards ``setup_s``.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from sqllog_analysis_spark import oracle
from sqllog_analysis_spark.sources.transcripts import (
    generate_transcripts,
    write_transcripts,
)

# the routing rules of operators/routing.py, restated as in the pipeline
# tests' oracle: error > slow_query > tool_call > chat
ERR_CODE = re.compile(r"ERR\[(-?\d+)\]")
TOOL_CALL = re.compile(r"TOOL_CALL: (\w+)\(")
SLOW_MS = 1000  # PipelineConfig.slow_ms default


def oracle_summary(df: pd.DataFrame) -> dict:
    """The ``run_pipeline`` summary fields, computed turn by turn with
    ``oracle.parse_turn_text`` and the conversation-level degenerate rule."""
    counts = {"slow_query": 0, "error": 0, "tool_call": 0, "chat": 0}
    conv_has_ts: dict[str, bool] = {}
    conv_records: dict[str, list] = {}
    conv_errors: dict[str, list] = {}
    for conv_id, text in zip(df["conv_id"].tolist(), df["text"].tolist()):
        recs, errs, has = oracle.parse_turn_text(text or "")
        conv_has_ts[conv_id] = conv_has_ts.get(conv_id, False) or has
        conv_records.setdefault(conv_id, []).extend(recs)
        conv_errors.setdefault(conv_id, []).extend(e.error_class for e in errs)
    n_errors = 0
    for conv_id, has in conv_has_ts.items():
        errs = conv_errors[conv_id]
        if has:
            n_errors += len(errs)
            for r in conv_records[conv_id]:
                if ERR_CODE.search(r.description):
                    counts["error"] += 1
                elif r.execute_time is not None and r.execute_time >= SLOW_MS:
                    counts["slow_query"] += 1
                elif TOOL_CALL.search(r.description):
                    counts["tool_call"] += 1
                else:
                    counts["chat"] += 1
        elif "Utf8" in errs:
            # a degenerate conversation with a critical error keeps all of
            # its errors; otherwise it yields one synthetic error row
            n_errors += len(errs)
        else:
            n_errors += 1
    per_sink = {k: v for k, v in counts.items() if v}
    return {
        "turns_processed": len(df),
        "per_sink": per_sink,
        "records_routed": sum(per_sink.values()),
        "parse_errors": n_errors,
    }


def read_rows(path: str) -> pd.DataFrame:
    """All rows of a parquet file or directory, as the oracle sees them."""
    return pq.read_table(path, columns=["conv_id", "turn_idx", "text", "ts"]).to_pandas()


def _publish(tmp: str, final: str) -> str:
    """Atomic rename of a finished cache entry; a concurrent winner is kept."""
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def batch_input(cache: str, name: str, n_turns: int, hot_frac: float, seed: int) -> tuple[str, dict]:
    """(parquet dir of 8 shards, expected summary) for a batch workload."""
    key = os.path.join(cache, f"{name}-{n_turns}-{seed}")
    if not os.path.exists(os.path.join(key, "expected.json")):
        tmp = f"{key}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        data = os.path.join(tmp, "data")
        write_transcripts(data, n_turns, seed=seed, shards=8, hot_frac=hot_frac)
        with open(os.path.join(tmp, "expected.json"), "w") as fh:
            json.dump(oracle_summary(read_rows(data)), fh)
        _publish(tmp, key)
    with open(os.path.join(key, "expected.json")) as fh:
        return os.path.join(key, "data"), json.load(fh)


def follow_input(cache: str, name: str, n_turns: int, n_slices: int, seed: int) -> list[str]:
    """Time-ordered slice files of one corpus, plus a closing file.

    Slices are cut by ``ts`` (equal turn counts after a stable sort), so a
    conversation closes once the watermark passes its last turn instead of
    staying open until the end.  The closing file holds one turn two hours
    after the corpus ends: its data batch moves the watermark past every
    open conversation, and the trigger after it releases them."""
    key = os.path.join(cache, f"{name}-{n_turns}x{n_slices}-{seed}")
    if not os.path.isdir(key):
        tmp = f"{key}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        df = generate_transcripts(n_turns, seed)
        df = df.sort_values("ts", kind="stable").reset_index(drop=True)
        table = pa.Table.from_pandas(df, preserve_index=False)
        bounds = [n_turns * i // n_slices for i in range(n_slices + 1)]
        for i in range(n_slices):
            pq.write_table(
                table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                os.path.join(tmp, f"slice-{i:04d}.parquet"),
            )
        close = pd.DataFrame(
            {
                "conv_id": ["zz_closing"],
                "turn_idx": pd.Series([0], dtype="int32"),
                "role": ["user"],
                "text": ["2099-01-01 00:00:00.000 (EP[0] sess:NULL thrd:1 user:u trxid:1 stmt:NULL) [SEL]: select 1"],
                "tool": [None],
                "ts": pd.Series([df["ts"].max() + pd.Timedelta(hours=2)]).astype("datetime64[us]"),
            }
        )
        pq.write_table(
            pa.Table.from_pandas(close, schema=table.schema, preserve_index=False),
            os.path.join(tmp, "slice-9999-closing.parquet"),
        )
        _publish(tmp, key)
    return sorted(os.path.join(key, f) for f in os.listdir(key) if f.endswith(".parquet"))
