"""Multimodal (image/audio/video) column plumbing.

Media ride through the engine as opaque ``binary`` payloads with typed
metadata.  The split of work is the one that survives 100 TB:

- byte-level metrics (payload length, sha256 content hash) are computed
  JVM-SIDE with built-in expressions (F.length / F.sha2) inside
  whole-stage codegen — no Python involved;
- ONLY the decode → feature-vector step crosses into Python, as an
  Arrow-batched ``mapInPandas`` stage that passes the JVM-computed columns
  through untouched (narrow, no join-back shuffle).

The decoder is a deterministic stand-in (normalized byte histogram) that
is oracle-checked end-to-end: the driver contract's ``media_features``
query reproduces it in pure SQL.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("sha256", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)

_KIND = {0: ("image", "image/png"), 1: ("audio", "audio/wav"), 2: ("video", "video/mp4")}


def media_from_documents(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic media fixture: every document becomes one media row
    whose payload is the ASCII bytes of md5(text) — a stand-in blob that
    is cheap, reproducible in any engine, and exercises the full binary
    plumbing (the real pipeline would read actual image/audio bytes from
    a blob store column with exactly this schema)."""
    kind_idx = (F.col(id_col) % 3).cast("int")
    kind = (
        F.when(kind_idx == 0, _KIND[0][0])
        .when(kind_idx == 1, _KIND[1][0])
        .otherwise(_KIND[2][0])
    )
    mime = (
        F.when(kind_idx == 0, _KIND[0][1])
        .when(kind_idx == 1, _KIND[1][1])
        .otherwise(_KIND[2][1])
    )
    return docs.select(
        F.col(id_col).cast("long").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.md5(F.col(text_col)), "UTF-8").alias("payload"),
        mime.alias("mime"),
        F.when(kind_idx == 0, F.lit(64)).cast("int").alias("width"),
        F.when(kind_idx == 0, F.lit(48)).cast("int").alias("height"),
        F.when(kind_idx != 0, (F.col(id_col) % 100) * 1000).cast("long").alias("duration_ms"),
    )


def _fake_decode_features(payload: bytes, dim: int = 16) -> np.ndarray:
    """Deterministic stand-in for a real decoder: normalized byte histogram
    folded to ``dim`` buckets."""
    if not payload:
        return np.zeros(dim, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr % dim, minlength=dim).astype(np.float32)
    s = hist.sum()
    return hist / s if s else hist


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """binary payload → (n_bytes, sha256 — JVM-side) + fixed-dim feature
    vector (decode — Arrow-batched Python).  Narrow end to end."""
    pre = media.select(
        "media_id",
        "kind",
        "payload",
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("sha256"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # only the decode runs in Python; n_bytes/sha256 pass through
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["n_bytes"],
                    "sha256": pdf["sha256"],
                    "feature": pdf["payload"].map(
                        lambda b: _fake_decode_features(bytes(b), dim).tolist()
                        if b is not None
                        else None
                    ),
                }
            )

    return pre.mapInPandas(run, schema=FEATURE_SCHEMA)
