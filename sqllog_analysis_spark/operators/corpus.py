"""Corpus-curation operators a training-data pipeline runs between raw
ingestion and dataset assembly: benchmark decontamination, Gopher-style
repetition filtering, temperature-scaled stratified sampling, and
cross-document passage dedup.

All four are engine-agnostic by construction — membership / thresholds
derive from md5 buckets or integer-exact counts so the driver contract's
DuckDB oracle reproduces every row bit-for-bit — and each is written in
the shuffle shape that survives 100 TB (see the per-function notes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from sqllog_analysis_spark.functions.text import bind_once
from sqllog_analysis_spark.operators.dedup import _shingles, _spread_compact_input


# Whitespace word tokenization shared by every corpus operator (the same
# expression the dedup shingles and text functions use) — ONE definition
# so token boundaries can never drift between operators and their oracles.
def _tokens(text_col: str) -> Column:
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    shingle_k: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag training documents that share any ``shingle_k``-word shingle
    with an evaluation set — the standard n-gram decontamination rule
    (13-grams is the GPT-3/Llama convention).

    Returns (id_col, n_hits): one row per CONTAMINATED training doc with
    the number of distinct eval shingles it contains.  Callers drop or
    quarantine these ids (an anti-join against this frame).

    Scale shape: the eval side (benchmark suites) is MBs even when the
    corpus is 100 TB, so its distinct shingle set is broadcast — the
    train side explodes its (per-doc deduped) shingles map-side, the
    broadcast hash join keeps only matching grams, and the final groupBy
    shuffles just the hits (a vanishing fraction of the corpus).  No
    all-pairs, no big-side shuffle.  Shingles are md5-hashed map-side so
    the broadcast table and join probes carry 32-byte keys instead of
    ~90-byte 13-gram strings (exactness up to md5 collisions, the same
    guarantee every fingerprint in this engine rides on).
    """
    # r6: gram construction + md5 moved to an Arrow-batched Python pass —
    # the JVM shingle build (transform/slice/concat_ws per gram position)
    # was the measured hot spot, and C-level str.join + hashlib beat the
    # interpreted higher-order functions ~4x (guide §4.2).  BOTH sides use
    # the identical tokenizer+hash (_gram_md5_rows), so match semantics
    # are unchanged: a gram matches iff the same 13-token string occurs on
    # both sides, exactly as before.
    ev = _gram_md5_rows(eval_df, id_col, text_col, shingle_k).select("g").distinct()
    # shingle hashing is CPU-bound: make sure a compact (single-file)
    # input doesn't pin the whole stage to one core
    tr = _gram_md5_rows(_spread_compact_input(train), id_col, text_col, shingle_k)
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def _gram_md5_rows(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, g) rows — the per-document DISTINCT md5 fingerprints (16 raw
    digest bytes; same 128-bit identity as the hex form at half the
    shuffle/broadcast bytes) of the k-token shingles, produced in one
    Arrow-batched pass (tokenization is the exact Spark-expression
    mirror, dedup._py_shingles)."""
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        import hashlib

        from sqllog_analysis_spark.operators.dedup import _py_shingles

        for pdf in batches:
            ids: list = []
            gs: list = []
            for i, text in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                for g in set(_py_shingles(text, k)):
                    ids.append(i)
                    gs.append(hashlib.md5(g.encode("utf-8")).digest())
            yield pd.DataFrame({id_col: ids, "g": gs})

    return df.select(id_col, text_col).mapInPandas(gen, f"{id_col} {id_type}, g binary")


# ---------------------------------------------------------------------------
# Gopher-style repetition metrics
# ---------------------------------------------------------------------------

def _max_multiplicity(grams: Column) -> Column:
    """Largest occurrence count of any element — the longest equal-run in
    the sorted array, which is the maximum multiset multiplicity by
    definition.  One O(n log n) sort + one O(n) aggregate fold over the
    ONCE-BOUND sorted array (r6: the former per-distinct-element
    ``size(filter(grams, ...))`` re-evaluated the whole gram-building
    expression per element — O(u·n) array REBUILDS, not comparisons)."""

    def body(s: Column) -> Column:
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        )

        def step(acc: Column, x: Column) -> Column:
            run2 = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
                F.lit(1)
            )
            return F.struct(
                x.alias("prev"),
                run2.alias("run"),
                F.greatest(acc["best"], run2).alias("best"),
            )

        return F.aggregate(s, init, step, lambda acc: acc["best"])

    return bind_once(F.array_sort(grams), body)


def _repeated_occurrence_count(grams: Column) -> Column:
    """Number of occurrences whose element appears ≥2 times in ``grams``
    — counted as sorted elements equal to a neighbor (an occurrence's
    value repeats iff, after sorting, it equals the previous or next
    element).  O(n log n) + O(n) over the once-bound sorted array; the
    index guards short-circuit (Spark ``And``) so ``element_at`` only
    sees indices 1..m."""

    def body(s: Column) -> Column:
        m = F.size(s)
        return F.size(
            F.filter(
                F.sequence(F.lit(1), m),
                lambda i: (
                    (i < m) & (F.element_at(s, i) == F.element_at(s, i + 1))
                )
                | ((i > 1) & (F.element_at(s, i - 1) == F.element_at(s, i))),
            )
        )

    return bind_once(F.array_sort(grams), body)


def repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    max_tokens: int = 2000,
) -> DataFrame:
    """Add Gopher-style within-document repetition signals (Rae et al.
    2021 §A1.1, "repetitious text" filters), all as pure column
    expressions over the first ``max_tokens`` whitespace tokens:

    - ``dup_word_frac``   — 1 − distinct words / words
    - ``top_2gram_frac``  — occurrences of the most frequent 2-gram / all 2-grams
    - ``dup_3gram_frac``  — fraction of 3-gram occurrences whose gram repeats

    The gram counts sort each document's gram array once and fold over it
    (``_max_multiplicity``, ``_repeated_occurrence_count``): O(n log n)
    per document in its n grams.  ``max_tokens`` bounds n, and so the
    size of every per-document array, so a pathological 1 GB document
    can't stall an executor core or blow up its memory; repetition
    signals saturate long before 2000 tokens.
    No shuffle, no Python — this is a projection even at 100 TB.
    """
    df = _spread_compact_input(df)
    toks = F.slice(
        _tokens(text_col), 1, max_tokens
    )
    head = F.concat_ws(" ", toks)
    g2 = _shingles_of(head, 2)
    g3 = _shingles_of(head, 3)
    n_w = F.size(toks)
    dup_word = F.when(
        n_w > 0,
        F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n_w,
    ).otherwise(F.lit(0.0))
    # guard on token count (not gram-array size): _shingles_of degrades
    # to a single whole-text "gram" below k tokens, which must read as
    # "no repetition evidence", not top-gram fraction 1.0
    top2 = F.when(
        n_w >= 2,
        _max_multiplicity(g2).cast("double") / F.size(g2),
    ).otherwise(F.lit(0.0))
    # dup3 counts occurrences whose 3-gram appears ≥2 times — the former
    # nested filter(g3, x -> size(filter(g3, y==x)) >= 2) re-evaluated
    # the gram-building chain per element (r6: 75 s for 5k docs under a
    # noop sink); the sorted-neighbor count is the same number
    dup3 = F.when(
        n_w >= 3,
        _repeated_occurrence_count(g3).cast("double") / F.size(g3),
    ).otherwise(F.lit(0.0))
    return df.withColumns(
        {
            "dup_word_frac": F.round(dup_word, 6),
            "top_2gram_frac": F.round(top2, 6),
            "dup_3gram_frac": F.round(dup3, 6),
        }
    )


def _shingles_of(text_expr: Column, k: int) -> Column:
    """k-word shingles of an arbitrary text EXPRESSION (dedup._shingles
    takes a column name; this takes the already-built expression).

    The token split is bound once (r6): the shingle transform's lambda
    otherwise re-splits the whole text per gram position — O(n²) in
    document length."""

    def body(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(
            n >= k,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))),
        ).otherwise(F.array(F.concat_ws(" ", toks)))

    return bind_once(F.split(text_expr, " "), body)


def repetition_filter(
    df: DataFrame,
    text_col: str = "text",
    max_dup_word_frac: float = 0.50,
    max_top_2gram_frac: float = 0.20,
    max_dup_3gram_frac: float = 0.30,
) -> DataFrame:
    """Gopher repetition gate: metrics + a ``keep`` flag.  Thresholds
    default to the Gopher-paper neighborhood (top-2-gram ≤ 0.20,
    duplicate-n-gram mass ≤ ~0.30)."""
    m = repetition_metrics(df, text_col)
    return m.withColumn(
        "keep",
        (F.col("dup_word_frac") <= max_dup_word_frac)
        & (F.col("top_2gram_frac") <= max_top_2gram_frac)
        & (F.col("dup_3gram_frac") <= max_dup_3gram_frac),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled stratified sampling
# ---------------------------------------------------------------------------

def stratified_sample(
    df: DataFrame,
    strata: Column | str,
    alpha: float = 0.5,
    target_frac: float = 0.5,
    id_col: str = "doc_id",
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic temperature-scaled stratified sampling (the
    multilingual-pretraining rule: stratum s is drawn ∝ count(s)^alpha,
    alpha<1 up-weights small strata).  Selection is by md5 hash bucket of
    the id against an integer per-stratum threshold, so membership is
    reproducible row-locally by any engine — re-runs, resumes, and
    audits all agree (unlike rand(seed), which is engine-private).

    Two passes: a tiny per-stratum count aggregate (broadcast back), then
    a narrow filter over the corpus — at 100 TB the corpus is read once
    and never shuffled.  Rows where ``bucket(id) < floor(buckets · rate_s)``
    survive, ``rate_s = min(1, target_frac · total · w_s / (Σw · c_s))``,
    ``w_s = c_s^alpha``.

    Returns the input rows + ``stratum`` for the sampled subset.
    """
    s = strata if isinstance(strata, Column) else F.col(strata)
    base = _spread_compact_input(df).withColumn("stratum", s)
    counts = base.groupBy("stratum").agg(F.count("*").alias("c"))
    tot = counts.agg(
        F.sum("c").alias("total"), F.sum(F.pow("c", alpha)).alias("sum_w")
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "stratum",
        # round to 9 dp before floor so a rate computed within float
        # noise of an integer bucket count floors identically in every
        # engine (same boundary-rounding convention as similarity.py)
        F.floor(
            F.round(
                buckets
                * F.least(
                    F.lit(1.0),
                    target_frac
                    * F.col("total")
                    * F.pow("c", alpha)
                    / (F.col("sum_w") * F.col("c")),
                ),
                9,
            )
        ).alias("thresh"),
    )
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 7), 16, 10
    ).cast("long")
    return (
        base.join(F.broadcast(rates), "stratum")
        .filter(F.pmod(h, F.lit(buckets)) < F.col("thresh"))
        .drop("thresh")
    )


# ---------------------------------------------------------------------------
# Cross-document passage dedup
# ---------------------------------------------------------------------------

def passage_stats(
    df: DataFrame,
    passage_tokens: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document passage-level exact dedup (the cheap, shuffle-bounded
    approximation of suffix-array ExactSubstr dedup, Lee et al. 2022):
    each document is cut into non-overlapping ``passage_tokens``-word
    passages, each passage is md5-fingerprinted, and a passage is
    "duplicated" when it appears in ≥ 2 distinct documents.

    Returns per-doc (id_col, n_passages, n_dup_passages) for documents
    containing at least one duplicated passage — the candidates for
    passage-level clipping.

    Scale shape: ONE scan of the corpus and two key-grouped shuffles
    (fingerprint → doc), the canonical MapReduce dedup profile.  The
    per-fingerprint document count is a window over the fingerprint
    partitioning (not a groupBy + join back, which would re-scan and
    re-shuffle the corpus twice more); passages are md5-fingerprinted
    map-side so 32-byte keys shuffle, never the text.
    """
    df = _spread_compact_input(df)

    def _passages(toks: Column) -> Column:
        # token split bound once (r6): the per-passage lambda otherwise
        # re-splits the whole text per passage — O(n²/passage_tokens)
        n_p = F.floor(F.size(toks) / passage_tokens).cast("int")
        idx = F.sequence(F.lit(0), F.greatest(n_p - 1, F.lit(0)))
        return F.when(
            n_p >= 1,
            F.transform(
                idx,
                lambda i: F.md5(
                    F.concat_ws(
                        " ", F.slice(toks, i * passage_tokens + 1, passage_tokens)
                    )
                ),
            ),
        ).otherwise(F.expr("CAST(array() AS array<string>)"))

    passages = bind_once(_tokens(text_col), _passages)
    per_passage = df.select(
        F.col(id_col), F.explode(F.array_distinct(passages)).alias("fp")
    )
    n_docs = F.count("*").over(Window.partitionBy("fp"))
    return (
        per_passage.withColumn("dup", (n_docs >= 2).cast("long"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_passages"),
            F.sum("dup").alias("n_dup_passages"),
        )
        .filter(F.col("n_dup_passages") >= 1)
    )


# ---------------------------------------------------------------------------
# Fixed-token chunking (training/RAG passage prep)
# ---------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping ``chunk_tokens``-word windows
    (stride ``chunk_tokens - overlap``) — the standard passage shape for
    pretraining sequence assembly and RAG indexing.

    Returns (id_col, chunk_idx, n_chunk_tokens, chunk_text), one row per
    chunk; whitespace-only documents produce no chunks.  A start emits a
    chunk only if it contributes at least one NEW token (the last valid
    start is ``n - overlap - 1``) — otherwise a short tail would duplicate
    a passage already fully contained in the previous chunk.

    Scale shape: a pure narrow projection + explode — ONE corpus scan,
    ZERO shuffles; chunk boundaries depend only on the row itself, so the
    operator keeps whatever partitioning the scan provides and runs at
    scan speed at 100 TB.  All arithmetic is integer-exact, so any engine
    reproduces the exact chunk set (mirrored in the DuckDB oracle).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap

    def _chunks(toks: Column) -> Column:
        # token split bound once (r6): the per-chunk lambda otherwise
        # re-splits the whole text per chunk — O(n²/stride)
        n = F.size(toks)
        starts = F.when(
            F.trim(F.col(text_col)) == "", F.expr("CAST(array() AS array<int>)")
        ).otherwise(
            F.sequence(F.lit(0), F.greatest(n - overlap - 1, F.lit(0)), F.lit(stride))
        )
        return F.transform(
            starts,
            lambda s, i: F.struct(
                i.alias("chunk_idx"),
                F.least(F.lit(chunk_tokens), n - s).alias("n_chunk_tokens"),
                F.concat_ws(" ", F.slice(toks, s + 1, chunk_tokens)).alias(
                    "chunk_text"
                ),
            ),
        )

    chunks = bind_once(_tokens(text_col), _chunks)
    return df.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        id_col, "c.chunk_idx", "c.n_chunk_tokens", "c.chunk_text"
    )


# ---------------------------------------------------------------------------
# Per-group quota sampling (source-balance caps)
# ---------------------------------------------------------------------------

def quota_sample(
    df: DataFrame,
    group_col: str = "source",
    cap: int = 100,
    id_col: str = "doc_id",
    buckets: int = 10_000,
) -> DataFrame:
    """Keep at most ``cap`` documents per ``group_col`` value, selected
    deterministically by md5-hash order of the id (so re-runs, resumes,
    and foreign engines agree on the exact kept set — unlike rand()).

    Scale shape: the naive rank-per-group window would sort EVERY group's
    full membership — a mega-group (one source with 10^10 docs at 100 TB)
    becomes a single straggler task.  Instead, two phases:

    1. A tiny per-group count aggregate (broadcast back) sets an md5
       bucket-threshold pre-filter ``rate ≈ 4·cap/c`` that shrinks every
       group to ~4·cap EXPECTED survivors (the 4× margin makes an
       under-``cap`` survivor set vanishingly unlikely for real caps;
       the deterministic hash means every engine keeps the same set), so
    2. the exact row_number ≤ cap window runs over bounded groups only.

    Phase 1 is row-local (no shuffle of the corpus); only the ~O(cap) pre-
    survivors per group shuffle into the window sort.  The pre-filter rate
    rounds at 9 dp before floor so every engine floors identically.
    """
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 7), 16, 10
    ).cast("long")
    counts = df.groupBy(group_col).agg(F.count("*").alias("c"))
    thresh = counts.select(
        group_col,
        F.floor(
            F.round(
                F.least(F.lit(1.0), 4.0 * cap / F.col("c")) * buckets, 9
            )
        ).alias("thresh"),
    )
    pre = df.join(F.broadcast(thresh), group_col).filter(
        F.pmod(h, F.lit(buckets)) < F.col("thresh")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        pre.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
        .drop("rk", "thresh")
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------

def tfidf_top_terms(
    df: DataFrame,
    top_k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_term_len: int = 3,
) -> DataFrame:
    """Per-document top-``top_k`` TF-IDF terms (smooth idf:
    ``ln((N+1)/(df+1)) + 1``) — the classic relevance profile used for
    topic tagging and near-dup triage.  Ties break by term asc so the
    result set is total-order deterministic; scores round to 6 dp for
    cross-engine float agreement.

    Returns (id_col, term, tf, df_docs, score, rank).

    Scale shape: explode → ONE groupBy (term, doc) for tf, document
    frequency as a window over the term partitioning (no second corpus
    scan or join-back), then the per-doc top-k window over (doc) — the
    same two-exchange profile as passage_stats.  Terms are lowercased
    word tokens ≥ ``min_term_len`` chars; the term dictionary is never
    collected to the driver.
    """
    toks = _tokens(text_col)
    terms = df.select(
        F.col(id_col), F.explode(toks).alias("term")
    ).filter(F.length("term") >= min_term_len)
    # corpus size as a lazy broadcast scalar — no eager driver action
    n_docs = df.agg(F.count_distinct(F.col(id_col)).alias("n_corpus"))
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_docs = F.count("*").over(Window.partitionBy("term"))
    scored = (
        tf.withColumn("df_docs", df_docs)
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_corpus") + 1.0) / (F.col("df_docs") + 1.0)) + 1.0),
                6,
            ),
        )
        .drop("n_corpus")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_k
    )
