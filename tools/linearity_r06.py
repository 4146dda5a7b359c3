"""Document-length linearity probes for the array operators (round 6).

The frozen bench times queries with ``.count()``, which lets the
optimizer prune computed columns — so a projection can hide superlinear
per-document cost.  This probe materializes each operator with the noop
sink (guide §1.4) over synthetic corpora of growing document length and
prints the wall time per length; a healthy operator grows ~linearly
(or goes flat once it hits an explicit cap like repetition_metrics'
``max_tokens``).

This is the harness that exposed the r6 HOF quadratics
(OPTIMIZATION_r06.md, "HOF argument re-evaluation"): winnowing read
254.8 s for 5,000 short docs under noop while the bench's pruned
count() showed nothing.

Usage: python tools/linearity_r06.py  [n_docs]  (default 500)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tools.verify_equiv import get_session  # noqa: E402


def main() -> None:
    from sqllog_analysis_spark.functions.text import winnow_fingerprints
    from sqllog_analysis_spark.operators.corpus import (
        chunk_documents,
        passage_stats,
        repetition_filter,
    )
    from sqllog_analysis_spark.operators.dedup import _shingles

    spark = get_session()
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500

    def corpus(n_toks: int):
        doc = " ".join(f"tok{i % 911}" for i in range(n_toks))
        d = (
            spark.range(n_docs)
            .select(F.col("id").alias("doc_id"), F.lit(doc).alias("text"))
            .persist()
        )
        d.count()
        return d

    def noop(q) -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            q.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return best

    for n_toks in (500, 1000, 2000, 4000):
        d = corpus(n_toks)
        qs = {
            "winnow": d.select(
                "doc_id", F.explode(winnow_fingerprints("text", k=5, w=4)).alias("fp")
            ),
            "repetition": repetition_filter(d).select(
                "doc_id", "dup_word_frac", "top_2gram_frac", "dup_3gram_frac", "keep"
            ),
            "passage_stats": passage_stats(d),
            "chunking": chunk_documents(d),
            "shingles_k3": d.select(
                F.size(F.array_distinct(_shingles("text", 3))).alias("x")
            ),
        }
        line = "  ".join(f"{name} {noop(q):.2f}s" for name, q in qs.items())
        print(f"tokens={n_toks}: {line}", flush=True)
        d.unpersist()


if __name__ == "__main__":
    main()
