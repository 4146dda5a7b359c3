"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` covers the operator inventory from SURVEY.md §2 (scan /
filter / project pushdown, regex extract + route — the parse pipeline's
shape, groupBy/rollup aggregates, broadcast joins, semi/anti joins,
windows, union, top-k, sessionization) plus the training-data operators
(exact dedup, minhash-LSH, simhash, n-gram Jaccard, token/quality/lang
text analysis, cosine top-k similarity) and the transcript pipeline itself
(rows-only checks — transcripts are not a pre-registered oracle view).

Every SQL-expressible query has a matching ``oracle_sql()`` entry with
identical column names/aliases.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sqllog_analysis_spark.functions import text as TX  # noqa: E402
from sqllog_analysis_spark.operators import corpus as CP  # noqa: E402
from sqllog_analysis_spark.operators import dedup as DD  # noqa: E402
from sqllog_analysis_spark.operators import loganalytics as LA  # noqa: E402
from sqllog_analysis_spark.functions import pii as PII  # noqa: E402
from sqllog_analysis_spark.operators import multimodal as MM  # noqa: E402
from sqllog_analysis_spark.operators import sampling as SMP  # noqa: E402
from sqllog_analysis_spark.operators import similarity as SIM  # noqa: E402

_REPO = os.path.dirname(os.path.abspath(__file__))
_DATA_CACHE = os.path.join(_REPO, ".data")

STOPWORDS_SQL = "('" + "','".join(TX.STOPWORDS) + "')"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _transcripts_path(sf_dir: str, seed: int = 42) -> str:
    """Deterministic transcripts corpus scaled to the sf dir, cached on disk
    (cache key includes the seed so a seed change can't serve stale data)."""
    from sqllog_analysis_spark.sources.transcripts import write_transcripts

    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    try:
        n = max(2000, int(float(sf) * 2_000_000))
    except ValueError:
        n = 20000
    os.makedirs(_DATA_CACHE, exist_ok=True)
    path = os.path.join(_DATA_CACHE, f"transcripts_{n}_s{seed}.parquet")
    if not os.path.exists(path):
        write_transcripts(path, n, seed=seed)
    return path


def _transcripts(spark: SparkSession, sf_dir: str, seed: int = 42) -> DataFrame:
    return spark.read.parquet(_transcripts_path(sf_dir, seed))


_GRAPH_CACHE: dict[str, dict] = {}

# The pipeline_* contract queries run over a PINNED-SIZE corpus (20000
# turns, seed 42) regardless of sf_dir: they check pipeline SEMANTICS
# against constant hard-oracle values computed by the pure-Python oracle
# (contract_expected.py), which must not drift with the driver's sf choice.
# Scale behavior is measured by perfbench/ (seeded corpora, per-layer and
# 1→4-core scaling metrics) and bench.py (the sf-scaled corpus via
# _transcripts_path).
_CONTRACT_N_TURNS = 20000


def _pipeline_graph(spark: SparkSession, sf_dir: str) -> dict:
    """Build the transcript-pipeline graph ONCE and share it across the
    three pipeline_* contract queries (round-1 rebuilt — and re-parsed —
    the whole graph per query).  The contract corpus is small, so a lazy
    persist of the parsed stage lets all three queries reuse one parse;
    production-scale runs use run_pipeline's staging write instead."""
    from sqllog_analysis_spark.sources.transcripts import write_transcripts

    key = f"contract_{_CONTRACT_N_TURNS}"
    if key not in _GRAPH_CACHE:
        from sqllog_analysis_spark.plans.pipeline import build

        os.makedirs(_DATA_CACHE, exist_ok=True)
        path = os.path.join(_DATA_CACHE, f"transcripts_{_CONTRACT_N_TURNS}_s42.parquet")
        if not os.path.exists(path):
            write_transcripts(path, _CONTRACT_N_TURNS, seed=42)
        g = build(spark, spark.read.parquet(path))
        g["parsed"].persist()  # lazy: fills on first materialization
        _GRAPH_CACHE[key] = g
    return _GRAPH_CACHE[key]


# ---------------------------------------------------------------------------
# TPC-H-ish relational operator coverage
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_filter_pushdown(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_partkey", "l_extendedprice")
        .filter((F.col("l_extendedprice") > 5000) & (F.col("l_discount") < 0.05))
    )


def q_join_topk(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


def q_broadcast_enrich(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
        .orderBy("r_name")
    )


def q_window_first_order(spark, sf_dir):
    # r6: same result as the row_number()-over-(o_orderdate, o_orderkey)
    # window (first order per customer), computed as a min(struct) aggregate
    # instead — partial (map-side) aggregation replaces the full per-key
    # sort, so the exchange carries ≤ one row per customer per task.
    # struct min == lexicographic (o_orderdate, o_orderkey) min == the
    # window's rn=1 row; o_orderkey is unique, so the pick is total-order
    # deterministic exactly like the window's tiebreak.
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.min(F.struct("o_orderdate", "o_orderkey")).alias("_m"))
        .select(
            "o_custkey",
            F.col("_m.o_orderkey").alias("first_orderkey"),
            F.col("_m.o_orderdate").alias("first_orderdate"),
        )
    )


def q_union_counts(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "error").select("event_id", "event_type")
    b = e.filter(F.col("value") > 180).select("event_id", "event_type")
    return (
        a.unionByName(b)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )


def q_distinct_users(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    ).orderBy("event_type")


def q_rollup_nation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("r_name", "n_name")
    )


def q_semi_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 150000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def q_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def q_except_intersect(spark, sf_dir):
    """Set ops (SURVEY.md §2.8 U2): customers with orders but none large,
    via EXCEPT; plus INTERSECT sanity — counts of each."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    with_big = c.join(
        o.filter(F.col("o_totalprice") > 200000), c.c_custkey == o.o_custkey, "left_semi"
    )
    ex = with_orders.exceptAll(with_big).select(F.col("c_custkey"))
    inter = with_orders.intersect(with_big)
    return (
        ex.withColumn("setop", F.lit("except"))
        .unionByName(inter.withColumn("setop", F.lit("intersect")))
        .groupBy("setop")
        .agg(F.count("*").alias("n"))
        .orderBy("setop")
    )


def q_cube_events(spark, sf_dir):
    """CUBE grouping sets (A4) over event_type × value band."""
    e = _t(spark, sf_dir, "events")
    band = F.when(F.col("value") >= 150, "high").otherwise("low")
    return (
        e.withColumn("band", band)
        .cube("event_type", "band")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type", "band")
    )


def q_raw_sql(spark, sf_dir):
    """spark.sql escape hatch (SURVEY.md §2.11 X3 ≙ execute_sql,
    reference src/database/mod.rs:150-153)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               ROUND(AVG(o_totalprice), 4) AS avg_price
        FROM orders_v GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact, on an id-bounded
    subset) — the dedup-by-embedding variant with a full SQL oracle.
    The synthetic embeddings are near-orthogonal (max pairwise cosine
    ≈0.49), so the threshold is set at the similarity tail, not 0.9."""
    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 400)
        .withColumn("v", F.col("embedding").cast("array<double>"))
        .select("vec_id", "v")
    )
    a = emb.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn("cosine", F.round(SIM.cosine_col(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= 0.35)
        .select("a", "b", "cosine")
        .orderBy("a", "b")
    )


def q_topk_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.orderBy(F.desc("value"), F.asc("event_id"))
        .select("event_id", "event_type", "value")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Log-pipeline shape: regex extract → route → aggregate (the flagship)
# ---------------------------------------------------------------------------

def q_regex_route(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("int")
    routed = e.withColumn("k", k).withColumn(
        "category",
        F.when(F.col("event_type") == "error", "error")
        .when(F.col("k") >= 90, "hot")
        .when(F.col("event_type").isin("purchase", "signup"), "conversion")
        .otherwise("browse"),
    )
    return (
        routed.groupBy("category")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.max("k").alias("max_k"),
        )
        .orderBy("category")
    )


def q_time_bucket(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
        .orderBy("bucket", "event_type")
    )


def q_sessionize(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the cast is lossless
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = us - F.lag(us).over(w)
    new_s = F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    return (
        e.withColumn("new_s", new_s)
        .groupBy("user_id")
        .agg(F.sum("new_s").alias("n_sessions"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Training-data operators: text analysis & dedup & similarity
# ---------------------------------------------------------------------------

def q_exact_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        DD.exact_dedup(d)
        .groupBy()
        .agg(
            F.count("*").alias("n_unique"),
            F.sum("dup_count").alias("n_docs"),
            F.sum(F.when(F.col("dup_count") > 1, 1).otherwise(0)).alias("n_dup_groups"),
        )
    )


def q_text_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            TX.token_count("text").alias("n_tokens"),
            F.round(TX.punct_ratio("text"), 6).alias("p_ratio"),
            F.round(TX.stopword_ratio("text"), 6).alias("s_ratio"),
            TX.quality_score("text").alias("quality"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("p_ratio"), 6).alias("avg_punct"),
            F.round(F.avg("s_ratio"), 6).alias("avg_stop"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
        )
        .orderBy("lang")
    )


def q_lang_guess(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(TX.lang_guess("text").alias("lang_guess"))
        .groupBy("lang_guess")
        .agg(F.count("*").alias("n"))
        .orderBy("lang_guess")
    )


def q_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", TX.fingerprint("text").alias("fp")
    ).orderBy("doc_id").limit(100)


def q_token_count_bpe(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("source", TX.bpe_ish_token_count("text").alias("n_bpe"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_bpe").alias("total_bpe"))
        .orderBy("source")
    )


def q_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    probes = emb.filter(F.col("vec_id") < 5)
    return SIM.brute_force_topk(emb, probes, k=5)


def q_minhash_lsh(spark, sf_dir):
    """Candidate near-dup pairs via banded minhash LSH, md5 hash flavor —
    bit-identical to the DuckDB oracle (same shingling, same one-md5 →
    affine-family minhash ints, same band keys, same bucket cap).  The
    murmur3 scale flavor shares every line of the algorithm except the
    hash primitive (operators/dedup.py), and is pinned by pytest
    (tests/test_training_ops.py)."""
    d = _t(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(
        d, n_hashes=16, bands=4, shingle_k=3, max_bucket=200, hash_fn="md5"
    ).orderBy("a", "b")


def q_simhash(spark, sf_dir):
    """Per-document 60-bit SimHash signatures, md5 hash flavor (first 15
    hex chars of md5(token) as the token hash — reproducible in DuckDB)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return DD.simhash(d, bits=60, hash_fn="md5").orderBy("doc_id")


def q_minhash_incremental(spark, sf_dir):
    """Incremental dedup, hash-checked end-to-end: docs < 400 are the
    indexed history (write_minhash_index, md5 flavor), docs >= 400 the
    increment; minhash_lsh_pairs_incremental joins pre-hashed history
    buckets.  Union buckets are identical to full-corpus buckets by
    construction, so the DuckDB oracle is the FULL md5 pair SQL
    restricted to pairs touching the increment, with provenance flags
    recomputed from the split constant."""
    d = _t(spark, sf_dir, "documents")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    idx = os.path.join(_DATA_CACHE, f"mh_idx_contract_{sf_tag}")
    DD.write_minhash_index(
        d.filter(F.col("doc_id") < 400), idx,
        n_hashes=16, bands=4, shingle_k=3, hash_fn="md5",
    )
    return DD.minhash_lsh_pairs_incremental(
        d.filter(F.col("doc_id") >= 400), idx, max_bucket=200
    ).orderBy("a", "b")


def q_simhash_pairs(spark, sf_dir):
    """Banded SimHash near-dup pairs (pigeonhole banding: 10 bands of 6
    bits over the 60-bit md5 signature guarantees full recall at Hamming
    radius ≤ 9; pairs filtered to ≤ 6), hash-checked against a DuckDB
    oracle that replays the banding, the bucket cap, and the popcount
    filter in SQL."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return DD.simhash_near_dup_pairs(
        d, bits=60, bands=10, hamming=6, max_bucket=200, hash_fn="md5"
    ).orderBy("a", "b")


def q_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard pairs ≥ 0.5 among first 300 docs."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return DD.ngram_jaccard_pairs(d, n=3, threshold=0.5).orderBy("a", "b")


def q_media_features(spark, sf_dir):
    """Multimodal plumbing end-to-end: documents → deterministic binary
    media fixture → JVM-side length/sha256 + Arrow-batched decode (the
    fake byte-histogram decoder, reproducible in SQL).  First 4 feature
    dims exposed as columns for the value-hash check."""
    d = _t(spark, sf_dir, "documents")
    feats = MM.extract_features(MM.media_from_documents(d))
    sel = [
        F.round(F.element_at("feature", i + 1).cast("double"), 6).alias(f"f{i}")
        for i in range(4)
    ]
    return feats.select("media_id", "kind", "n_bytes", "sha256", *sel).orderBy(
        "media_id"
    )


def q_winnow_fingerprint(spark, sf_dir):
    """Rolling-hash winnowing fingerprints (MOSS scheme): per-doc set of
    window-minimum k-gram hashes, exploded to (doc_id, fp) rows.  Narrow
    column expressions only; DuckDB mirrors the same md5-hex scheme."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return (
        d.select(
            "doc_id", F.explode(TX.winnow_fingerprints("text", k=5, w=4)).alias("fp")
        )
        .orderBy("doc_id", "fp")
    )


def q_dup_clusters(spark, sf_dir):
    """Connected components over the md5-flavor minhash-LSH pair set:
    (doc_id, cluster_id=min id in component).  The pair set is already
    hash-identical to the DuckDB oracle (q_minhash_lsh); the clustering is
    checked against a recursive-CTE transitive closure over those same
    pairs — an iterative Spark algorithm vs a foreign engine's fixpoint."""
    d = _t(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(
        d, n_hashes=16, bands=4, shingle_k=3, max_bucket=200, hash_fn="md5"
    )
    return DD.dup_clusters(pairs).orderBy("doc_id")


def q_lsh_cosine_topk(spark, sf_dir):
    """Hyperplane-LSH approximate neighbors.  The ±1 Rademacher planes are
    derived from md5(seed:i:j) (operators/similarity.py::hyperplanes), so
    the DuckDB oracle rebuilds the identical plane matrix and bucket
    assignment in SQL — the approximate result is hash-checked exactly,
    not just recall-pinned."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    probes = emb.filter(F.col("vec_id") < 5)
    return SIM.lsh_topk(emb, probes, dim=64, k=5, bits=6)


def q_lsh_near_dup(spark, sf_dir):
    """Whole-corpus embedding near-dup pairs via the LSH SELF-join (the
    symmetric scale path: both sides big, no broadcast, one bucket
    shuffle).  Approximate-but-deterministic: the oracle rebuilds the
    identical buckets, so the result is hash-checked exactly."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return SIM.lsh_near_dup_pairs(
        emb, dim=64, threshold=0.35, bits=6, seed=42, max_bucket=1000
    ).orderBy("a", "b")


def q_ivf_full_topk(spark, sf_dir):
    """IVF ANN at nprobe == n_centroids: every Voronoi cell is searched, so
    the result must EQUAL exact brute-force cosine top-k — a hash check of
    the whole IVF machinery (deterministic mini-kmeans, Arrow cell
    assignment, cell join, candidate ranking) against the same DuckDB
    oracle as cosine_topk.  Smaller nprobe is the approximate scale path,
    pinned by a recall pytest (tests/test_training_ops.py)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    probes = emb.filter(F.col("vec_id") < 5)
    return SIM.ivf_topk(emb, probes, k=5, n_centroids=8, nprobe=8)


def q_embedding_dup_clusters(spark, sf_dir):
    """SEMANTIC dedup clusters: connected components over the exact
    embedding-cosine near-dup pair set (the q_embedding_near_dup pairs) —
    per-vector (doc_id, cluster_id = min id in component).  Spark side is
    the iterative min-label propagation; the oracle is a recursive-CTE
    transitive closure over the identical pair SQL."""
    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 400)
        .withColumn("v", F.col("embedding").cast("array<double>"))
        .select("vec_id", "v")
    )
    a = emb.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    pairs = (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn("cosine", F.round(SIM.cosine_col(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= 0.35)
        .select("a", "b")
    )
    return DD.dup_clusters(pairs).orderBy("doc_id")


def q_sample_split(spark, sf_dir):
    """Deterministic hash-bucket train/val/test split (90/5/5) with
    per-split doc and token counts — membership is md5-derived, so any
    engine recomputes it row-locally (operators/sampling.py)."""
    d = SMP.hash_split(_t(spark, sf_dir, "documents"))
    return (
        d.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(TX.token_count("text")).alias("total_tokens"),
        )
        .orderBy("split")
    )


def q_seq_packing(spark, sf_dir):
    """Contiguous streaming sequence packing into 2048-token bins,
    windowed per source shard (operators/sampling.py::pack_sequences)."""
    return SMP.pack_sequences(_t(spark, sf_dir, "documents")).orderBy(
        "part", "bin_id"
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs (hash-split buckets 0-89)
    sharing any 13-word shingle with the held-out eval slice (buckets
    95-99).  Eval shingles broadcast; only hits shuffle
    (operators/corpus.py::decontaminate)."""
    d = _t(spark, sf_dir, "documents")
    b = SMP.split_bucket("doc_id")
    return CP.decontaminate(d.filter(b < 90), d.filter(b >= 95)).orderBy(
        "doc_id"
    )


def q_repetition_filter(spark, sf_dir):
    """Gopher-style within-doc repetition gate: dup-word / top-2-gram /
    dup-3-gram fractions + keep flag, all pure column expressions
    (operators/corpus.py::repetition_filter)."""
    d = _t(spark, sf_dir, "documents")
    return (
        CP.repetition_filter(d)
        .select(
            "doc_id", "dup_word_frac", "top_2gram_frac", "dup_3gram_frac", "keep"
        )
        .orderBy("doc_id")
    )


def q_stratified_sample(spark, sf_dir):
    """Temperature-scaled (alpha=0.5) stratified sampling over lang_guess
    strata, membership by md5 hash bucket — exact sampled id set is
    hash-checked against the oracle (operators/corpus.py)."""
    d = _t(spark, sf_dir, "documents")
    s = CP.stratified_sample(
        d, TX.lang_guess("text"), alpha=0.5, target_frac=0.5
    )
    return s.select("stratum", "doc_id").orderBy("stratum", "doc_id")


def q_passage_stats(spark, sf_dir):
    """Cross-doc passage-level exact dedup: 10-token passages, md5
    fingerprints, docs sharing any passage with another doc
    (operators/corpus.py::passage_stats)."""
    return CP.passage_stats(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def _pii_synth(spark, sf_dir) -> DataFrame:
    """documents with deterministic PII planted from doc_id (the corpus has
    none), so extraction/redaction is genuinely exercised and the DuckDB
    oracle can rebuild the identical text."""
    d = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    synth = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact "), F.substring(h, 1, 6),
        F.lit("@mail-"), F.substring(h, 7, 2), F.lit(".org"),
        F.lit(" from 10."), (F.col("doc_id") % 251).cast("string"),
        F.lit("."), (F.col("doc_id") % 13).cast("string"), F.lit(".7"),
        F.lit(" call +1 (206) 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" see https://"), F.substring(h, 9, 5),
        F.lit(".example.com/d/"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" and https://docs.example.org/x"))
        .otherwise(F.lit(" end")),
    )
    return d.select("doc_id", synth.alias("text"))


def q_pii_scrub(spark, sf_dir):
    """PII detection + redaction: email/IPv4/phone counts and the scrubbed
    text, all narrow column regexes (functions/pii.py). Reference analog:
    the engine's scalar regex functions (F1/F2) applied to a curation
    concern the reference doesn't ship but every training pipeline needs."""
    s = _pii_synth(spark, sf_dir)
    return (
        s.select(
            "doc_id",
            PII.email_count("text").alias("n_emails"),
            PII.ipv4_count("text").alias("n_ips"),
            PII.phone_count("text").alias("n_phones"),
            PII.scrub_pii("text").alias("scrubbed"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


def q_url_extract(spark, sf_dir):
    """URL/domain extraction + blocklist flagging. The blocklist join is a
    BROADCAST semi-join on exploded domains (at 100 TB the blocklist is
    millions of rows — a join, never an IN-literal); the corpus side never
    shuffles."""
    s = _pii_synth(spark, sf_dir)
    blocked = spark.createDataFrame(
        [("docs.example.org",), ("spam.example.net",)], "domain string"
    )
    doms = s.select(
        "doc_id",
        PII.url_domains("text").alias("ds"),
        F.size(PII.extract_urls("text")).alias("n_urls"),
    )
    flagged = (
        doms.select("doc_id", F.explode("ds").alias("domain"))
        .join(F.broadcast(blocked), "domain", "leftsemi")
        .select("doc_id")
        .distinct()
        .withColumn("blocked", F.lit(True))
    )
    return (
        doms.join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            F.concat_ws(",", "ds").alias("domains"),
            "n_urls",
            F.coalesce("blocked", F.lit(False)).alias("blocked"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


def q_asof_join(spark, sf_dir):
    """Point-in-time join: each event matched to the user's most recent
    purchase at-or-before its timestamp (operators/asof.py::asof_join,
    union-tag + running window — one shuffle, no range cross-join).
    Oracle: DuckDB's native ASOF LEFT JOIN."""
    from sqllog_analysis_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("ref_id"),
            F.round(F.sum("value"), 6).alias("ref_value"),
        )
    )
    j = asof_join(
        ev.select("event_id", "user_id", "ts", "event_type"),
        purchases,
        on="user_id",
    )
    return j.select(
        "event_id", "user_id", "event_type", "ref_id", "ref_value"
    ).orderBy("event_id")


def q_event_sequences(spark, sf_dir):
    """Order-preserving grouped assembly (the transcripts→training-doc
    shape): per (user, day), the comma-joined event-type sequence in
    (ts, event_id) order — collect_list of structs + array_sort gives a
    deterministic total order without a global sort."""
    e = _t(spark, sf_dir, "events")
    seq = F.concat_ws(
        ",",
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"],
        ),
    )
    return (
        e.groupBy("user_id", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .agg(seq.alias("seq"), F.count("*").alias("n"))
        .orderBy("user_id", "day")
    )


def q_pivot_events(spark, sf_dir):
    """Pivot (long→wide): per-user event counts, one column per type.
    Explicit value list keeps the plan single-pass (no distinct-values
    pre-scan) — the form that scales."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("user_id")
    )


def q_window_ranks(spark, sf_dir):
    """Ranking window functions (row_number / percent_rank / ntile) with a
    total-order tiebreak, top-50 per user."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        e.select(
            "event_id",
            "user_id",
            F.row_number().over(w).alias("rn"),
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("rn") <= 50)
        .orderBy("user_id", "rn")
    )


def q_sliding_window(spark, sf_dir):
    """Sliding event-time windows (10-min width, 5-min slide) via Spark's
    native window() — each event lands in exactly two epoch-aligned
    windows; oracle rebuilds them with time_bucket + a shifted union."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "n", "sum_value")
        .orderBy("win_start")
    )


def q_quantiles(spark, sf_dir):
    """Exact percentiles per group (Spark `percentile` ≡ DuckDB
    quantile_cont — both linear interpolation; verified bit-equal at 6 dp)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


def q_interval_join(spark, sf_dir):
    """Range join: clicks inside 6-hour post-error windows per user
    (operators/rangejoin.py::interval_join — time-bucket equi-join +
    exact refinement, never a nested-loop theta join). Oracle: DuckDB
    theta join."""
    from sqllog_analysis_spark.operators.rangejoin import interval_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 21600 SECONDS")).alias("end_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    j = interval_join(clicks, errors, on="user_id", bucket_seconds=21600)
    return (
        j.groupBy("err_id")
        .agg(F.count("*").alias("n_clicks"), F.max("event_id").alias("last_click"))
        .orderBy("err_id")
    )


def q_doc_chunking(spark, sf_dir):
    """Fixed-token overlapping chunking (32-token windows, stride 24) —
    ONE scan, zero shuffles (operators/corpus.py::chunk_documents)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return CP.chunk_documents(d, chunk_tokens=32, overlap=8).orderBy(
        "doc_id", "chunk_idx"
    )


def q_quota_sample(spark, sf_dir):
    """Per-source quota sampling (cap 50): md5-hash pre-filter bounds the
    window sort per group (operators/corpus.py::quota_sample)."""
    d = _t(spark, sf_dir, "documents")
    return (
        CP.quota_sample(d, group_col="source", cap=50)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


def q_tfidf_topterms(spark, sf_dir):
    """Per-doc top-3 TF-IDF terms, smooth idf, deterministic tie-break
    (operators/corpus.py::tfidf_top_terms)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return (
        CP.tfidf_top_terms(d, top_k=3)
        .withColumnRenamed("rank", "rnk")
        .orderBy("doc_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Query-log / event-analytics operators (operators/loganalytics.py)
# ---------------------------------------------------------------------------

def q_funnel(spark, sf_dir):
    """Ordered view→click→purchase funnel: stacked conditional-MIN windows
    over ONE user_id exchange (operators/loganalytics.py::funnel_counts)."""
    e = _t(spark, sf_dir, "events")
    return LA.funnel_counts(e, ["view", "click", "purchase"])


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort × week-offset distinct-active users
    (operators/loganalytics.py::cohort_retention)."""
    e = _t(spark, sf_dir, "events")
    return LA.cohort_retention(e)


def q_scd2_intervals(spark, sf_dir):
    """SCD2 validity intervals of each user's event_type run-lengths
    (operators/loganalytics.py::scd2_intervals)."""
    e = _t(spark, sf_dir, "events")
    return LA.scd2_intervals(
        e, "user_id", "event_type", "ts", tiebreak_col="event_id"
    ).orderBy("user_id", "valid_from")


def q_dq_report(spark, sf_dir):
    """One-scan Deequ-style constraint report over orders
    (operators/loganalytics.py::dq_report)."""
    o = _t(spark, sf_dir, "orders")
    return LA.dq_report(
        o,
        {
            "complete_custkey": F.col("o_custkey").isNotNull(),
            "positive_price": F.col("o_totalprice") > 0,
            "price_le_50k": F.col("o_totalprice") <= 50000,
            "status_in_set": F.col("o_orderstatus").isin("O", "F", "P"),
            "priority_pattern": F.col("o_orderpriority").rlike(r"^[1-5]-"),
        },
    )


def q_fuzzy_pairs(spark, sf_dir):
    """Blocked fuzzy record linkage: prefix-blocked self-join + Levenshtein
    ≤ 1 on customer names (operators/loganalytics.py::blocked_fuzzy_pairs)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 400)
    return LA.blocked_fuzzy_pairs(
        c, "c_custkey", "c_name", block_len=17, max_dist=1
    )


def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-20 documents for a 3-term query
    (operators/loganalytics.py::bm25_rank)."""
    d = _t(spark, sf_dir, "documents")
    return LA.bm25_rank(d, ["scan", "hash", "merge"], top_k=20)


def q_grouping_sets(spark, sf_dir):
    """Arbitrary GROUPING SETS (beyond rollup/cube): per-returnflag, per-
    linestatus, and grand-total aggregates in one pass."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_zscore_outliers(spark, sf_dir):
    """Per-type z-score anomalies; threshold tested on the ROUNDED z so
    engines agree on boundaries (loganalytics.py::zscore_outliers)."""
    e = _t(spark, sf_dir, "events")
    return LA.zscore_outliers(e, "event_type", "value", 3.0).orderBy(
        "event_type", "value"
    )


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix of each user's event types
    (loganalytics.py::event_transitions)."""
    e = _t(spark, sf_dir, "events")
    return LA.event_transitions(e, "user_id", "event_type", "ts", "event_id")


def q_daily_trend(spark, sf_dir):
    """Daily counts + trailing 7-day moving average + day-over-day delta
    (loganalytics.py::daily_trend)."""
    e = _t(spark, sf_dir, "events")
    return LA.daily_trend(e).withColumn(
        "day", F.date_format("day", "yyyy-MM-dd")
    )


def q_value_histogram(spark, sf_dir):
    """Fixed-width value histogram per event type; identical FLOOR
    bin expression on both engines (loganalytics.py::value_histogram)."""
    e = _t(spark, sf_dir, "events")
    return LA.value_histogram(e, "value", 0.0, 50.0, 25, group_col="event_type")


def q_heavy_hitters(spark, sf_dir):
    """EXACT token heavy hitters (≥1% of corpus tokens) via per-partition
    Misra-Gries candidates + exact second pass — the bounded-memory shape
    for 100 TB vocabularies (loganalytics.py::heavy_hitters)."""
    d = _t(spark, sf_dir, "documents")
    # r6: spread a compact single-file corpus BEFORE the explode so both
    # heavy_hitters passes (MG sketch, exact count) parallelize and the
    # exchange moves docs, not exploded tokens (guide §2.5); no-op at scale
    toks = DD._spread_compact_input(d).select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("item")
    )
    return LA.heavy_hitters(toks, "item", 0.01)


def q_session_stats(spark, sf_dir):
    """Gap-based session table: one ordered window exchange, per-session
    rollup on the same partitioning (loganalytics.py::session_stats)."""
    e = _t(spark, sf_dir, "events")
    return LA.session_stats(e, gap_seconds=1800, tiebreak_col="event_id")


def q_crosstab_chi2(spark, sf_dir):
    """event_type × weekday contingency with chi-square contributions
    (loganalytics.py::crosstab_chi2)."""
    e = _t(spark, sf_dir, "events")
    return LA.crosstab_chi2(
        e, "event_type", F.dayofweek("ts") - 1, col_name="dow"
    )


def q_group_entropy(spark, sf_dir):
    """Per-event-type user-distribution entropy — concentration/abuse
    signal (loganalytics.py::group_entropy)."""
    e = _t(spark, sf_dir, "events")
    return LA.group_entropy(e, "event_type", "user_id")


def q_sql_shape_exemplars(spark, sf_dir):
    """Worst-case exemplar per top-5 statement shape (the jump-to-record
    half of the pt-query-digest report;
    loganalytics.py::sql_shape_exemplars), pinned by hard-oracle
    constants from the pure-Python replay."""
    g = _pipeline_graph(spark, sf_dir)
    return LA.sql_shape_exemplars(g["routed"], top_k=5)


def q_reply_latency(spark, sf_dir):
    """User→assistant reply-latency stats over the pinned contract
    corpus (loganalytics.py::reply_latency): exact integer-microsecond
    latencies, so avg/percentiles are engine-identical; pinned by
    hard-oracle constants from a pure-Python replay."""
    path = os.path.join(_DATA_CACHE, f"transcripts_{_CONTRACT_N_TURNS}_s42.parquet")
    if not os.path.exists(path):
        from sqllog_analysis_spark.sources.transcripts import write_transcripts

        os.makedirs(_DATA_CACHE, exist_ok=True)
        write_transcripts(path, _CONTRACT_N_TURNS, seed=42)
    lat = LA.reply_latency(spark.read.parquet(path))
    return lat.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg("latency_us"), 6).alias("avg_us"),
        F.round(F.expr("percentile(latency_us, 0.5)"), 6).alias("p50_us"),
        F.round(F.expr("percentile(latency_us, 0.95)"), 6).alias("p95_us"),
    )


def q_sql_shapes(spark, sf_dir):
    """pt-query-digest-style workload summary: top statement shapes of the
    pipeline's parsed records by volume, with latency totals
    (operators/loganalytics.py::sql_shape_digest).  Hard-oracle constants
    (contract_expected.py) pin every row."""
    g = _pipeline_graph(spark, sf_dir)
    return LA.sql_shape_digest(g["routed"], top_k=15)


# ---------------------------------------------------------------------------
# The transcript pipeline itself (rows-only: not a pre-registered view)
# ---------------------------------------------------------------------------

def q_pipeline_sink_counts(spark, sf_dir):
    g = _pipeline_graph(spark, sf_dir)
    return g["sink_counts"].orderBy("category")


def q_pipeline_errors(spark, sf_dir):
    g = _pipeline_graph(spark, sf_dir)
    return g["errors"].groupBy().agg(F.count("*").alias("n_errors"))


def q_pipeline_conv_buckets(spark, sf_dir):
    g = _pipeline_graph(spark, sf_dir)
    return (
        g["conv_buckets"]
        .groupBy("category")
        .agg(F.sum("n").alias("n"), F.max("max_exec_ms").alias("max_exec_ms"))
        .orderBy("category")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the log-pipeline shape (regex parse → route → aggregate)
    over sf0.001 events."""
    return q_regex_route(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "filter_pushdown": q_filter_pushdown,
        "join_topk": q_join_topk,
        "broadcast_enrich": q_broadcast_enrich,
        "window_first_order": q_window_first_order,
        "union_counts": q_union_counts,
        "distinct_users": q_distinct_users,
        "rollup_nation": q_rollup_nation,
        "semi_join": q_semi_join,
        "anti_join": q_anti_join,
        "except_intersect": q_except_intersect,
        "cube_events": q_cube_events,
        "raw_sql": q_raw_sql,
        "embedding_near_dup": q_embedding_near_dup,
        "topk_events": q_topk_events,
        "regex_route": q_regex_route,
        "time_bucket": q_time_bucket,
        "sessionize": q_sessionize,
        "exact_dedup": q_exact_dedup,
        "text_quality": q_text_quality,
        "lang_guess": q_lang_guess,
        "fingerprint": q_fingerprint,
        "winnow_fingerprint": q_winnow_fingerprint,
        "token_count_bpe": q_token_count_bpe,
        "cosine_topk": q_cosine_topk,
        "minhash_lsh": q_minhash_lsh,
        "dup_clusters": q_dup_clusters,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "minhash_incremental": q_minhash_incremental,
        "ngram_jaccard": q_ngram_jaccard,
        "lsh_cosine_topk": q_lsh_cosine_topk,
        "ivf_full_topk": q_ivf_full_topk,
        "media_features": q_media_features,
        "embedding_dup_clusters": q_embedding_dup_clusters,
        "sample_split": q_sample_split,
        "seq_packing": q_seq_packing,
        "decontaminate": q_decontaminate,
        "repetition_filter": q_repetition_filter,
        "stratified_sample": q_stratified_sample,
        "passage_stats": q_passage_stats,
        "pii_scrub": q_pii_scrub,
        "url_extract": q_url_extract,
        "asof_join": q_asof_join,
        "interval_join": q_interval_join,
        "sliding_window": q_sliding_window,
        "quantiles": q_quantiles,
        "pivot_events": q_pivot_events,
        "window_ranks": q_window_ranks,
        "event_sequences": q_event_sequences,
        "doc_chunking": q_doc_chunking,
        "quota_sample": q_quota_sample,
        "tfidf_topterms": q_tfidf_topterms,
        "lsh_near_dup": q_lsh_near_dup,
        "funnel": q_funnel,
        "cohort_retention": q_cohort_retention,
        "scd2_intervals": q_scd2_intervals,
        "dq_report": q_dq_report,
        "fuzzy_pairs": q_fuzzy_pairs,
        "bm25_topk": q_bm25_topk,
        "grouping_sets": q_grouping_sets,
        "sql_shapes": q_sql_shapes,
        "zscore_outliers": q_zscore_outliers,
        "event_transitions": q_event_transitions,
        "daily_trend": q_daily_trend,
        "value_histogram": q_value_histogram,
        "heavy_hitters": q_heavy_hitters,
        "reply_latency": q_reply_latency,
        "sql_shape_exemplars": q_sql_shape_exemplars,
        "session_stats": q_session_stats,
        "crosstab_chi2": q_crosstab_chi2,
        "group_entropy": q_group_entropy,
        "pipeline_sink_counts": q_pipeline_sink_counts,
        "pipeline_errors": q_pipeline_errors,
        "pipeline_conv_buckets": q_pipeline_conv_buckets,
    }


# DuckDB shingle expression shared by the minhash / ngram oracles — the
# exact mirror of operators/dedup.py:_shingles (k-word shingles of
# lowercased whitespace-tokenized text; <k tokens ⇒ one whole-text shingle).
def _shingles_sql(k: int, where: str = "") -> str:
    return f"""
        docs AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
            FROM documents {where}
        ),
        sh AS (
            SELECT doc_id,
                   CASE WHEN len(w) >= {k} THEN
                       list_transform(generate_series(1, len(w) - {k - 1}),
                                      i -> array_to_string(w[i:i + {k - 1}], ' '))
                   ELSE [array_to_string(w, ' ')] END AS gs
            FROM docs
        )"""


def _minhash_lsh_sql(n_hashes: int, bands: int, shingle_k: int, max_bucket: int) -> str:
    """DuckDB mirror of the md5-flavor minhash: ONE md5 per shingle →
    60-bit int mod P, then the same affine family (a_i·x + b_i) mod P
    with constants from dedup.minhash_affine_consts."""
    from sqllog_analysis_spark.operators.dedup import MINHASH_P, minhash_affine_consts

    consts = minhash_affine_consts(n_hashes)
    r = n_hashes // bands
    mins = ",\n                   ".join(
        f"min(({a} * x + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(consts)
    )
    band_selects = "\n            UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS bucket FROM sig".format(
            b=b,
            key=" || '|' || ".join(f"CAST(h{b * r + i} AS VARCHAR)" for i in range(r)),
        )
        for b in range(bands)
    )
    return f"""
        WITH {_shingles_sql(shingle_k)},
        ex0 AS (SELECT doc_id, unnest(gs) AS s FROM sh),
        ex AS (SELECT doc_id,
                      ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P} AS x
               FROM ex0),
        sig AS (
            SELECT doc_id,
                   {mins}
            FROM ex GROUP BY doc_id
        ),
        bands AS (
            {band_selects}
        ),
        capped AS (
            SELECT band, bucket FROM bands
            GROUP BY band, bucket HAVING count(*) <= {max_bucket}
        ),
        b2 AS (SELECT bands.* FROM bands JOIN capped USING (band, bucket))
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM b2 x JOIN b2 y
          ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
        ORDER BY a, b
    """


def _winnow_sql(k: int, w: int, hash_len: int, where: str) -> str:
    """DuckDB mirror of functions/text.py::winnow_fingerprints — identical
    md5-hex k-gram hashes, identical window minima (hex string order ==
    numeric order), identical short-text edge (one whole-text gram)."""
    return f"""
        WITH docs AS (
            SELECT doc_id,
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
            FROM documents {where}
        ),
        g AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(1, greatest(length(t) - {k - 1}, 1)),
                       i -> substr(md5(substr(t, i, {k})), 1, {hash_len})
                   ) AS grams
            FROM docs
        ),
        m AS (
            SELECT doc_id,
                   list_sort(list_distinct(list_transform(
                       generate_series(1, greatest(len(grams) - {w - 1}, 1)),
                       j -> list_min(grams[j:j + {w - 1}])
                   ))) AS fps
            FROM g
        )
        SELECT doc_id, unnest(fps) AS fp FROM m ORDER BY doc_id, fp
    """


def _bm25_sql(terms: list[str], k1: float, b: float, top_k: int) -> str:
    """DuckDB mirror of operators/loganalytics.py::bm25_rank.  Every
    arithmetic sub-expression is written in the Spark side's exact
    association order; all aggregate inputs (token counts, doc lengths)
    are integers, so the doubles are bit-identical across engines."""
    tf_cols = ",\n                   ".join(
        f"CAST(len(list_filter(w, x -> x = '{t}')) AS DOUBLE) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n                   ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms))
    )
    score = "\n                 + ".join(
        f"(ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * {k1 + 1}))"
        f" / (tf{i} + {k1} * ({1 - b} + ({b} * dl) / avgdl))"
        for i in range(len(terms))
    )
    return rf"""
        WITH d AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\s+') AS w
            FROM documents
        ), base AS (
            SELECT doc_id, len(w) AS dl,
                   {tf_cols}
            FROM d
        ), st AS (
            SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl,
                   {df_cols}
            FROM base
        ), sc AS (
            SELECT doc_id,
                   ROUND({score}, 6) AS score
            FROM base, st
        )
        SELECT doc_id, score FROM sc WHERE score > 0
        ORDER BY score DESC, doc_id LIMIT {top_k}
    """


def _dup_clusters_sql(n_hashes: int, bands: int, shingle_k: int, max_bucket: int) -> str:
    """Transitive closure (recursive CTE) over the exact minhash-LSH pair
    set — the foreign-engine fixpoint the Spark label propagation must
    reproduce."""
    pairs_sql = _minhash_lsh_sql(n_hashes, bands, shingle_k, max_bucket)
    return f"""
        WITH RECURSIVE pairs AS (
            SELECT a, b FROM ({pairs_sql}) mh
        ),
        edges AS (
            SELECT a AS src, b AS dst FROM pairs
            UNION
            SELECT b AS src, a AS dst FROM pairs
        ),
        reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        )
        SELECT src AS doc_id,
               LEAST(src, MIN(dst)) AS cluster_id
        FROM reach GROUP BY src ORDER BY doc_id
    """


def _simhash_sql(bits: int, where: str) -> str:
    votes = ",\n                   ".join(
        f"SUM(CASE WHEN (v >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END"
        for i in range(bits)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
            FROM documents {where}
        ),
        h AS (
            SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS v FROM toks
        ),
        votes AS (
            SELECT doc_id,
                   {votes}
            FROM h GROUP BY doc_id
        )
        SELECT doc_id, ({sig})::BIGINT AS simhash
        FROM votes ORDER BY doc_id
    """


def _minhash_incremental_sql(
    n_hashes: int, bands: int, shingle_k: int, max_bucket: int, split: int
) -> str:
    """Oracle for minhash_lsh_pairs_incremental: the union of (indexed
    history, increment) buckets equals full-corpus buckets, so the exact
    pair set is the full run's pairs restricted to those touching a doc
    >= split, with provenance flags derived from the split constant."""
    inner = _minhash_lsh_sql(n_hashes, bands, shingle_k, max_bucket)
    return f"""
        SELECT a, b, (a >= {split}) AS a_is_new, (b >= {split}) AS b_is_new
        FROM ({inner}) full_pairs
        WHERE a >= {split} OR b >= {split}
        ORDER BY a, b
    """


def _simhash_pairs_sql(
    bits: int, bands: int, hamming: int, max_bucket: int, where: str
) -> str:
    """SQL replay of simhash_near_dup_pairs (md5 flavor): signature CTEs as
    in _simhash_sql, then pigeonhole banding, the per-(band, chunk) window
    cap, the self-join, and the popcount radius filter.  md5 signatures
    are ≤60 bits and non-negative, so plain ``>>`` matches Spark's
    shiftrightunsigned."""
    width = bits // bands
    mask = (1 << width) - 1
    votes = ",\n                   ".join(
        f"SUM(CASE WHEN (v >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END"
        for i in range(bits)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
            FROM documents {where}
        ),
        h AS (
            SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS v FROM toks
        ),
        votes AS (
            SELECT doc_id,
                   {votes}
            FROM h GROUP BY doc_id
        ),
        sigs AS (SELECT doc_id, ({sig})::BIGINT AS simhash FROM votes),
        banded AS (
            SELECT doc_id, simhash, band,
                   (simhash >> (band * {width})) & {mask} AS chunk
            FROM sigs CROSS JOIN (SELECT unnest(range({bands})) AS band)
        ),
        capped AS (
            SELECT * FROM (
                SELECT banded.*,
                       count(*) OVER (PARTITION BY band, chunk) AS c
                FROM banded
            ) WHERE c <= {max_bucket}
        )
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
               bit_count(xor(x.simhash, y.simhash))::INT AS hamming
        FROM capped x JOIN capped y ON x.band = y.band AND x.chunk = y.chunk
        WHERE x.doc_id < y.doc_id
          AND bit_count(xor(x.simhash, y.simhash)) <= {hamming}
        ORDER BY a, b
    """


def _ngram_jaccard_sql(n: int, threshold: float, max_freq: int, where: str) -> str:
    return f"""
        WITH {_shingles_sql(n, where)},
        grams AS (
            SELECT DISTINCT doc_id, g
            FROM (SELECT doc_id, unnest(gs) AS g FROM sh)
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
        gfreq AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= {max_freq}),
        gf AS (SELECT grams.* FROM grams JOIN gfreq USING (g)),
        common AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
            FROM gf x JOIN gf y ON x.g = y.g AND x.doc_id < y.doc_id
            GROUP BY x.doc_id, y.doc_id
        )
        SELECT a, b,
               ROUND(c / (sa.sz + sb.sz - c), 6) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        WHERE ROUND(c / (sa.sz + sb.sz - c), 6) >= {threshold}
        ORDER BY a, b
    """


def _media_features_sql() -> str:
    """DuckDB mirror of media_from_documents → extract_features with the
    fake byte-histogram decoder: the payload is the 32 ASCII chars of
    md5(text), so bucket k of the %16 byte histogram counts hex digit k
    plus (for k in 1..6) letter chr(96+k) ('a'=97 → 97%16=1, ... 'f'→6)."""
    def occ(ch: str) -> str:
        return f"(32 - len(replace(h, '{ch}', '')))"

    fs = []
    for k in range(4):
        terms = [occ(str(k))]
        if 1 <= k <= 6:
            terms.append(occ(chr(96 + k)))
        fs.append(f"ROUND(({' + '.join(terms)}) / 32.0, 6) AS f{k}")
    f_cols = ",\n               ".join(fs)
    return f"""
        WITH m AS (
            SELECT doc_id::BIGINT AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image'
                                   WHEN 1 THEN 'audio'
                                   ELSE 'video' END AS kind,
                   md5(text) AS h
            FROM documents
        )
        SELECT media_id, kind, 32::BIGINT AS n_bytes, sha256(h) AS sha256,
               {f_cols}
        FROM m ORDER BY media_id
    """


# ---------------------------------------------------------------------------
# Hard oracles for the pipeline_* contract queries: constant VALUES relations
# computed by the PURE-PYTHON reference oracle (oracle.py + a pure-Python
# routing re-statement) over the deterministic seed-42 contract corpus —
# regenerate with `python tools/gen_contract_expected.py`.  The contract
# queries pin the corpus to _CONTRACT_N_TURNS regardless of sf, so these
# constants stay valid at any driver sf choice.
# ---------------------------------------------------------------------------

def _pipeline_oracle_sql(n_turns: int = _CONTRACT_N_TURNS) -> dict[str, str]:
    from sqllog_analysis_spark.contract_expected import EXPECTED

    e = EXPECTED[n_turns]
    sc_vals = ", ".join(f"('{c}', {n})" for c, n in e["sink_counts"])
    cb_vals = ", ".join(
        f"('{c}', {n}, {m if m is not None else 'NULL'})"
        for c, n, m in e["conv_buckets_by_category"]
    )
    ss_vals = ", ".join(
        "('{}', {}, {}, {})".format(s.replace("'", "''"), n, nt, tot)
        for s, n, nt, tot in e["sql_shapes_top15"]
    )
    rl = e["reply_latency"]
    ex_vals = ", ".join(
        "('{}', {}, {}, '{}', {}, {})".format(
            s.replace("'", "''"),
            n,
            "NULL" if w is None else w,
            c.replace("'", "''"),
            t,
            ri,
        )
        for s, n, w, c, t, ri in e["sql_shape_exemplars_top5"]
    )
    return {
        "sql_shape_exemplars": f"""
            SELECT shape, CAST(n AS BIGINT) AS n,
                   CAST(worst_ms AS BIGINT) AS worst_ms,
                   conv_id, CAST(turn_idx AS INT) AS turn_idx,
                   CAST(rec_idx AS INT) AS rec_idx
            FROM (VALUES {ex_vals})
                 AS t(shape, n, worst_ms, conv_id, turn_idx, rec_idx)
            ORDER BY n DESC, shape
        """,
        "reply_latency": f"""
            SELECT CAST({rl["n_pairs"]} AS BIGINT) AS n_pairs,
                   {rl["avg_us"]} AS avg_us,
                   {rl["p50_us"]} AS p50_us,
                   {rl["p95_us"]} AS p95_us
        """,
        "sql_shapes": f"""
            SELECT shape, CAST(n AS BIGINT) AS n,
                   CAST(n_timed AS BIGINT) AS n_timed,
                   CAST(total_exec_ms AS BIGINT) AS total_exec_ms
            FROM (VALUES {ss_vals}) AS t(shape, n, n_timed, total_exec_ms)
            ORDER BY n DESC, shape
        """,
        "pipeline_sink_counts": f"""
            SELECT category, CAST(n AS BIGINT) AS n
            FROM (VALUES {sc_vals}) AS t(category, n)
            ORDER BY category
        """,
        "pipeline_errors": f"SELECT CAST({e['n_errors']} AS BIGINT) AS n_errors",
        "pipeline_conv_buckets": f"""
            SELECT category, CAST(n AS BIGINT) AS n,
                   CAST(max_exec_ms AS BIGINT) AS max_exec_ms
            FROM (VALUES {cb_vals}) AS t(category, n, max_exec_ms)
            ORDER BY category
        """,
    }


def _lsh_buckets_cte(bits: int, dim: int, seed: int) -> str:
    """Shared DuckDB CTE chain rebuilding similarity.py's md5-derived
    Rademacher plane matrix (entry (i, j) sign = low bit of the first hex
    char of md5('seed:i:j')) and the sign-bit bucket id of every
    embedding."""
    return f"""pl AS (
            SELECT i, j,
                   CASE WHEN ('0x' || substr(md5('{seed}:' || i || ':' || j), 1, 1))::INT & 1 = 1
                        THEN 1.0 ELSE -1.0 END AS e
            FROM generate_series(0, {bits - 1}) t1(i),
                 generate_series(0, {dim - 1}) t2(j)
        ),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        dots AS (
            SELECT v.vec_id, pl.i, SUM(v.v[pl.j + 1] * pl.e) AS d
            FROM v, pl GROUP BY v.vec_id, pl.i
        ),
        bk AS (
            -- ROUND(d, 9) mirrors similarity.py::bucket_ids: both engines
            -- pin the FP sign boundary identically, so a dot within float
            -- rounding of zero cannot flip a bucket bit between them
            SELECT vec_id,
                   CAST(SUM(CASE WHEN ROUND(d, 9) > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS bucket
            FROM dots GROUP BY vec_id
        )"""


def _lsh_topk_sql(bits: int, dim: int, seed: int, k: int) -> str:
    """DuckDB mirror of operators/similarity.py::lsh_topk: identical
    buckets (_lsh_buckets_cte), identical exact ranking within the
    probe's bucket."""
    return f"""
        WITH {_lsh_buckets_cte(bits, dim, seed)},
        c AS (SELECT v.vec_id, v.v, bk.bucket FROM v JOIN bk USING (vec_id)),
        p AS (SELECT * FROM c WHERE vec_id < 5),
        scored AS (
            SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   ROUND(list_dot_product(p.v, c.v) /
                         (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
            FROM c JOIN p ON c.bucket = p.bucket AND c.vec_id != p.vec_id
        ),
        ranked AS (
            SELECT probe_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT probe_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}
    """


def _lsh_near_dup_sql(bits: int, dim: int, seed: int, threshold: float, max_bucket: int) -> str:
    """DuckDB mirror of similarity.py::lsh_near_dup_pairs: identical
    buckets, identical bucket cap, identical in-bucket cosine filter."""
    return f"""
        WITH {_lsh_buckets_cte(bits, dim, seed)},
        c AS (SELECT v.vec_id, v.v, bk.bucket FROM v JOIN bk USING (vec_id)),
        capped AS (
            SELECT bucket FROM c GROUP BY bucket HAVING count(*) <= {max_bucket}
        ),
        s AS (SELECT c.* FROM c JOIN capped USING (bucket)),
        pairs AS (
            SELECT a.vec_id AS a, b.vec_id AS b,
                   ROUND(list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
            FROM s a JOIN s b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT DISTINCT a, b, cosine FROM pairs
        WHERE cosine >= {threshold} ORDER BY a, b
    """


_COSINE_TOPK_SQL = """
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5),
         scored AS (
             SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                    ROUND(list_dot_product(p.v, c.v) /
                          (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
             FROM c, p WHERE c.vec_id != p.vec_id
         ), ranked AS (
             SELECT probe_id, neighbor_id, cosine,
                    ROW_NUMBER() OVER (PARTITION BY probe_id
                                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
             FROM scored
         )
    SELECT probe_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
"""


# Mirror of _pii_synth: identical deterministic text in DuckDB. Built by
# concatenation (not f-string) because the PII regexes contain {m,n} braces.
_PII_SYNTH_SQL = """
    synth AS (
        SELECT doc_id,
               substr(text, 1, 40)
               || ' contact ' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
               || '@mail-' || substr(md5(CAST(doc_id AS VARCHAR)), 7, 2) || '.org'
               || ' from 10.' || CAST(doc_id % 251 AS VARCHAR)
               || '.' || CAST(doc_id % 13 AS VARCHAR) || '.7'
               || ' call +1 (206) 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               || ' see https://' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 5)
               || '.example.com/d/' || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0 THEN ' and https://docs.example.org/x'
                       ELSE ' end' END AS text
        FROM documents
    )
"""


def _pii_scrub_sql() -> str:
    return (
        "WITH " + _PII_SYNTH_SQL + """
        SELECT doc_id,
               len(regexp_extract_all(text, '""" + PII.EMAIL_RE + """')) AS n_emails,
               len(regexp_extract_all(text, '""" + PII.IPV4_RE + """')) AS n_ips,
               len(regexp_extract_all(text, '""" + PII.PHONE_RE + """')) AS n_phones,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '""" + PII.EMAIL_RE + """', '<EMAIL>', 'g'),
                   '""" + PII.IPV4_RE + """', '<IP>', 'g'),
                   '""" + PII.PHONE_RE + """', '<PHONE>', 'g') AS scrubbed
        FROM synth ORDER BY doc_id LIMIT 200
        """
    )


def _url_extract_sql() -> str:
    return (
        "WITH " + _PII_SYNTH_SQL + """,
        u AS (
            SELECT doc_id,
                   list_sort(list_distinct(list_transform(
                       regexp_extract_all(text, '""" + PII.URL_RE + """'),
                       x -> regexp_extract(x, '""" + PII._DOMAIN_FROM_URL_RE + """', 1)))) AS ds,
                   len(regexp_extract_all(text, '""" + PII.URL_RE + """')) AS n_urls
            FROM synth
        ),
        ex AS (SELECT doc_id, unnest(ds) AS domain FROM u),
        bl(domain) AS (VALUES ('docs.example.org'), ('spam.example.net')),
        fl AS (SELECT DISTINCT ex.doc_id FROM ex JOIN bl USING (domain))
        SELECT u.doc_id, array_to_string(ds, ',') AS domains, n_urls,
               (fl.doc_id IS NOT NULL) AS blocked
        FROM u LEFT JOIN fl ON u.doc_id = fl.doc_id
        ORDER BY u.doc_id LIMIT 200
        """
    )


def oracle_sql() -> dict[str, str]:
    return {
        "pii_scrub": _pii_scrub_sql(),
        "url_extract": _url_extract_sql(),
        "asof_join": """
            WITH r AS (
                SELECT user_id, ts, MAX(event_id) AS ref_id,
                       ROUND(SUM(value), 6) AS ref_value
                FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
            )
            SELECT l.event_id, l.user_id, l.event_type, r.ref_id, r.ref_value
            FROM events l ASOF LEFT JOIN r
                ON l.user_id = r.user_id AND l.ts >= r.ts
            ORDER BY l.event_id
        """,
        "interval_join": """
            WITH e AS (
                SELECT event_id AS err_id, user_id, ts AS s,
                       ts + INTERVAL 21600 SECOND AS en
                FROM events WHERE event_type = 'error'
            ), c AS (
                SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            )
            SELECT err_id, COUNT(*) AS n_clicks, MAX(event_id) AS last_click
            FROM c JOIN e ON c.user_id = e.user_id
                         AND c.ts >= e.s AND c.ts <= e.en
            GROUP BY err_id ORDER BY err_id
        """,
        "sliding_window": """
            WITH b AS (
                SELECT time_bucket(INTERVAL '5 minutes', ts) AS s1, value
                FROM events
            ), x AS (
                SELECT s1 AS win_start, value FROM b
                UNION ALL
                SELECT s1 - INTERVAL '5 minutes' AS win_start, value FROM b
            )
            SELECT win_start, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
            FROM x GROUP BY win_start ORDER BY win_start
        """,
        "quantiles": """
            SELECT event_type, COUNT(*) AS n,
                   ROUND(quantile_cont(value, 0.5), 6) AS p50,
                   ROUND(quantile_cont(value, 0.9), 6) AS p90,
                   ROUND(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "pivot_events": """
            SELECT user_id,
                   COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                   COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
                   COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
                   COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
                   COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "event_sequences": """
            SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                   string_agg(event_type, ',' ORDER BY ts, event_id) AS seq,
                   COUNT(*) AS n
            FROM events GROUP BY user_id, day ORDER BY user_id, day
        """,
        "window_ranks": """
            SELECT event_id, user_id, rn, pr, quartile FROM (
                SELECT event_id, user_id,
                       CAST(ROW_NUMBER() OVER w AS INT) AS rn,
                       ROUND(PERCENT_RANK() OVER w, 6) AS pr,
                       CAST(NTILE(4) OVER w AS INT) AS quartile
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
            ) WHERE rn <= 50 ORDER BY user_id, rn
        """,
        # chunking: stride 24 = 32 - 8; slice/arith integer-exact
        "doc_chunking": r"""
            WITH d AS (
                SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
                FROM documents WHERE doc_id < 200 AND trim(text) <> ''
            ), st AS (
                -- last valid start n - overlap - 1 = len - 9: a shorter
                -- tail would duplicate a fully-contained passage
                SELECT doc_id, w, unnest(generate_series(0, greatest(len(w) - 9, 0), 24)) AS s
                FROM d
            )
            SELECT doc_id,
                   CAST(s // 24 AS INT) AS chunk_idx,
                   CAST(LEAST(32, len(w) - s) AS INT) AS n_chunk_tokens,
                   array_to_string(w[s + 1:s + 32], ' ') AS chunk_text
            FROM st ORDER BY doc_id, chunk_idx
        """,
        "quota_sample": """
            WITH c AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY source),
            th AS (
                SELECT source,
                       CAST(floor(round(least(1.0, 4.0 * 50 / c) * 10000, 9)) AS BIGINT) AS thresh
                FROM c
            ), pre AS (
                SELECT d.source, d.doc_id FROM documents d JOIN th USING (source)
                WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT % 10000 < th.thresh
            ), rk AS (
                SELECT source, doc_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY source
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
                FROM pre
            )
            SELECT source, doc_id FROM rk WHERE r <= 50 ORDER BY source, doc_id
        """,
        "tfidf_topterms": r"""
            WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
            t AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
                FROM d
            ), t2 AS (SELECT doc_id, term FROM t WHERE len(term) >= 3),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t2 GROUP BY doc_id, term),
            n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM d),
            sc AS (
                SELECT doc_id, term, tf,
                       COUNT(*) OVER (PARTITION BY term) AS df_docs
                FROM tf
            ), s2 AS (
                SELECT doc_id, term, tf, df_docs,
                       ROUND(tf * (ln((n.n + 1.0) / (df_docs + 1.0)) + 1.0), 6) AS score
                FROM sc, n
            ), r AS (
                SELECT *, CAST(ROW_NUMBER() OVER (
                    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INT) AS rnk
                FROM s2
            )
            SELECT doc_id, term, tf, df_docs, score, rnk
            FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk
        """,
        "funnel": """
            WITH e AS (SELECT user_id, event_type, ts FROM events),
            a AS (
                SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
                          OVER (PARTITION BY user_id) AS s0
                FROM e
            ), b AS (
                SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > s0 THEN ts END)
                          OVER (PARTITION BY user_id) AS s1
                FROM a
            ), c AS (
                SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > s1 THEN ts END)
                          OVER (PARTITION BY user_id) AS s2
                FROM b
            ), p AS (
                SELECT user_id, MAX(s0) AS s0, MAX(s1) AS s1, MAX(s2) AS s2
                FROM c GROUP BY user_id
            )
            SELECT COUNT(s0) AS step1_users, COUNT(s1) AS step2_users,
                   COUNT(s2) AS step3_users
            FROM p
        """,
        "cohort_retention": """
            WITH f AS (
                SELECT user_id, ts,
                       MIN(ts) OVER (PARTITION BY user_id) AS first_ts
                FROM events
            )
            SELECT date_trunc('week', first_ts) AS cohort_week,
                   CAST((epoch(date_trunc('week', ts))
                         - epoch(date_trunc('week', first_ts))) / 604800 AS INT)
                       AS week_offset,
                   COUNT(DISTINCT user_id) AS n_users
            FROM f GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "scd2_intervals": """
            WITH p AS (
                SELECT user_id, event_type, ts, event_id,
                       LAG(event_type) OVER w AS prev,
                       ROW_NUMBER() OVER w AS rn
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), c AS (
                -- first row of a key is always a change point; otherwise
                -- null-safe inequality (NULL is a value, mirrors
                -- loganalytics.scd2_intervals' eqNullSafe)
                SELECT user_id, event_type, ts, event_id FROM p
                WHERE rn = 1 OR prev IS DISTINCT FROM event_type
            )
            SELECT user_id, event_type, ts AS valid_from,
                   LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS valid_to
            FROM c ORDER BY user_id, valid_from
        """,
        "dq_report": """
            WITH a AS (
                SELECT COUNT(*) AS n,
                       SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS p0,
                       SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS p1,
                       SUM(CASE WHEN o_totalprice <= 50000 THEN 1 ELSE 0 END) AS p2,
                       SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS p3,
                       SUM(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS p4
                FROM orders
            ), u AS (
                SELECT 'complete_custkey' AS check_name, p0 AS n_pass, n FROM a
                UNION ALL SELECT 'positive_price', p1, n FROM a
                UNION ALL SELECT 'price_le_50k', p2, n FROM a
                UNION ALL SELECT 'status_in_set', p3, n FROM a
                UNION ALL SELECT 'priority_pattern', p4, n FROM a
            )
            SELECT check_name, CAST(n_pass AS BIGINT) AS n_pass,
                   CAST(n - n_pass AS BIGINT) AS n_fail,
                   ROUND(n_pass / CAST(n AS DOUBLE), 6) AS pass_rate
            FROM u ORDER BY check_name
        """,
        "fuzzy_pairs": """
            WITH c AS (
                SELECT c_custkey AS id, c_name AS nm,
                       substr(c_name, 1, 17) AS blk
                FROM customer WHERE c_custkey < 400
            )
            SELECT a.id AS a, b.id AS b,
                   CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
            FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id
            WHERE levenshtein(a.nm, b.nm) <= 1
            ORDER BY a, b
        """,
        "bm25_topk": _bm25_sql(["scan", "hash", "merge"], 1.2, 0.75, 20),
        "zscore_outliers": """
            WITH s AS (
                SELECT event_type, value,
                       AVG(value) OVER (PARTITION BY event_type) AS m,
                       STDDEV_SAMP(value) OVER (PARTITION BY event_type) AS sd
                FROM events
            ), z AS (
                SELECT event_type, value,
                       CASE WHEN sd > 0 THEN ROUND((value - m) / sd, 6) END AS z
                FROM s
            )
            SELECT event_type, value, z FROM z
            WHERE ABS(z) > 3 ORDER BY event_type, value
        """,
        "event_transitions": """
            WITH p AS (
                SELECT event_type AS src,
                       LEAD(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) AS dst
                FROM events
            ), c AS (
                SELECT src, dst, COUNT(*) AS n FROM p
                WHERE dst IS NOT NULL GROUP BY src, dst
            )
            SELECT src, dst, n,
                   ROUND(n / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE), 6) AS p
            FROM c ORDER BY src, dst
        """,
        "daily_trend": """
            WITH d AS (
                SELECT event_type,
                       strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                       COUNT(*) AS n
                FROM events GROUP BY event_type, day
            )
            SELECT event_type, day, n,
                   ROUND(AVG(n) OVER (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma,
                   n - LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS delta
            FROM d ORDER BY event_type, day
        """,
        "value_histogram": """
            SELECT event_type,
                   CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 2.0), 0), 24) AS INT) AS bin,
                   COUNT(*) AS n
            FROM events GROUP BY event_type, bin ORDER BY event_type, bin
        """,
        "session_stats": """
            WITH f AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 1800 SECOND
                            THEN 0 ELSE 1 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
                SELECT user_id, ts,
                       CAST(SUM(new_s) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS INT) AS session_id
                FROM f
            )
            SELECT user_id, session_id,
                   MIN(ts) AS session_start, MAX(ts) AS session_end,
                   COUNT(*) AS n_events,
                   ROUND(epoch(MAX(ts) - MIN(ts)), 6) AS duration_s
            FROM s GROUP BY user_id, session_id
            ORDER BY user_id, session_id
        """,
        "crosstab_chi2": """
            WITH cells AS (
                SELECT event_type AS row,
                       date_part('dow', ts) AS dow,
                       COUNT(*) AS n
                FROM events GROUP BY row, dow
            )
            SELECT row, CAST(dow AS INT) AS dow, n,
                   ROUND(SUM(n) OVER (PARTITION BY row)
                         * SUM(n) OVER (PARTITION BY dow)
                         / CAST(SUM(n) OVER () AS DOUBLE), 6) AS expected,
                   ROUND((n - SUM(n) OVER (PARTITION BY row)
                              * SUM(n) OVER (PARTITION BY dow)
                              / CAST(SUM(n) OVER () AS DOUBLE))
                         * (n - SUM(n) OVER (PARTITION BY row)
                                * SUM(n) OVER (PARTITION BY dow)
                                / CAST(SUM(n) OVER () AS DOUBLE))
                         / (SUM(n) OVER (PARTITION BY row)
                            * SUM(n) OVER (PARTITION BY dow)
                            / CAST(SUM(n) OVER () AS DOUBLE)), 6) AS chi2
            FROM cells ORDER BY row, dow
        """,
        "group_entropy": """
            WITH pairs AS (
                SELECT event_type AS grp, user_id AS unit, COUNT(*) AS c
                FROM events GROUP BY grp, unit
            ), p AS (
                SELECT grp, c,
                       c / CAST(SUM(c) OVER (PARTITION BY grp) AS DOUBLE) AS p
                FROM pairs
            )
            SELECT grp, SUM(c) AS n, COUNT(*) AS n_units,
                   ROUND(SUM(-p * ln(p)), 6) AS entropy
            FROM p GROUP BY grp ORDER BY grp
        """,
        "heavy_hitters": r"""
            WITH t AS (
                SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS item
                FROM documents
            ), tot AS (SELECT COUNT(*) AS total FROM t)
            SELECT item, COUNT(*) AS n
            FROM t, tot
            GROUP BY item, tot.total
            HAVING COUNT(*) >= CEIL(0.01 * tot.total)
            ORDER BY n DESC, item
        """,
        "grouping_sets": """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                   SUM(l_quantity) AS sum_qty
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
            ORDER BY l_returnflag, l_linestatus
        """,
        **_pipeline_oracle_sql(),
        "media_features": _media_features_sql(),
        "minhash_lsh": _minhash_lsh_sql(16, 4, 3, 200),
        "dup_clusters": _dup_clusters_sql(16, 4, 3, 200),
        "winnow_fingerprint": _winnow_sql(5, 4, 16, "WHERE doc_id < 100"),
        "simhash": _simhash_sql(60, "WHERE doc_id < 200"),
        "simhash_pairs": _simhash_pairs_sql(60, 10, 6, 200, "WHERE doc_id < 400"),
        "minhash_incremental": _minhash_incremental_sql(16, 4, 3, 200, 400),
        "ngram_jaccard": _ngram_jaccard_sql(3, 0.5, 1000, "WHERE doc_id < 300"),
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   SUM(l_quantity) AS sum_qty,
                   SUM(l_extendedprice) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 6) AS avg_qty,
                   ROUND(AVG(l_discount), 6) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "filter_pushdown": """
            SELECT l_orderkey, l_partkey, l_extendedprice
            FROM lineitem
            WHERE l_extendedprice > 5000 AND l_discount < 0.05
        """,
        "join_topk": """
            SELECT c_custkey, c_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 10
        """,
        "broadcast_enrich": """
            SELECT r_name, COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 4) AS total_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name
        """,
        "window_first_order": """
            SELECT o_custkey, first_orderkey, first_orderdate FROM (
                SELECT o_custkey, o_orderkey AS first_orderkey,
                       o_orderdate AS first_orderdate,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey) AS rn
                FROM orders
            ) WHERE rn = 1
        """,
        "union_counts": """
            SELECT event_type, COUNT(*) AS n FROM (
                SELECT event_id, event_type FROM events WHERE event_type = 'error'
                UNION ALL
                SELECT event_id, event_type FROM events WHERE value > 180
            ) GROUP BY event_type ORDER BY event_type
        """,
        "distinct_users": """
            SELECT event_type, COUNT(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "rollup_nation": """
            SELECT r_name, n_name, COUNT(*) AS n_customers
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
            ORDER BY r_name, n_name
        """,
        "semi_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 150000)
        """,
        "anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "topk_events": """
            SELECT event_id, event_type, value FROM events
            ORDER BY value DESC, event_id ASC LIMIT 20
        """,
        "except_intersect": """
            WITH with_orders AS (
                SELECT c_custkey FROM customer
                WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ), with_big AS (
                SELECT c_custkey FROM customer
                WHERE EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_totalprice > 200000)
            ), u AS (
                SELECT c_custkey, 'except' AS setop
                FROM (SELECT c_custkey FROM with_orders EXCEPT ALL SELECT c_custkey FROM with_big)
                UNION ALL
                SELECT c_custkey, 'intersect' AS setop
                FROM (SELECT c_custkey FROM with_orders INTERSECT SELECT c_custkey FROM with_big)
            )
            SELECT setop, COUNT(*) AS n FROM u GROUP BY setop ORDER BY setop
        """,
        "cube_events": """
            SELECT event_type,
                   CASE WHEN value >= 150 THEN 'high' ELSE 'low' END AS band,
                   COUNT(*) AS n
            FROM events
            GROUP BY CUBE (event_type, band)
            ORDER BY event_type, band
        """,
        "raw_sql": """
            SELECT o_orderpriority, COUNT(*) AS n,
                   ROUND(AVG(o_totalprice), 4) AS avg_price
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "embedding_near_dup": """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 400
            )
            SELECT a.vec_id AS a, b.vec_id AS b,
                   ROUND(list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE ROUND(list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
            ORDER BY a, b
        """,
        "regex_route": """
            WITH routed AS (
                SELECT *,
                       TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k,
                       CASE WHEN event_type = 'error' THEN 'error'
                            WHEN TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) >= 90 THEN 'hot'
                            WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
                            ELSE 'browse' END AS category
                FROM events
            )
            SELECT category, COUNT(*) AS n,
                   ROUND(SUM(value), 4) AS total_value,
                   MAX(k) AS max_k
            FROM routed GROUP BY category ORDER BY category
        """,
        "time_bucket": """
            SELECT date_trunc('hour', ts) AS bucket, event_type,
                   COUNT(*) AS n, ROUND(AVG(value), 6) AS avg_value
            FROM events GROUP BY bucket, event_type ORDER BY bucket, event_type
        """,
        "sessionize": """
            WITH g AS (
                SELECT user_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions,
                   COUNT(*) AS n_events
            FROM g GROUP BY user_id ORDER BY user_id
        """,
        "exact_dedup": """
            WITH fps AS (
                SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
                       COUNT(*) AS dup_count
                FROM documents GROUP BY fp
            )
            SELECT COUNT(*) AS n_unique,
                   CAST(SUM(dup_count) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN dup_count > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
            FROM fps
        """,
        "text_quality": f"""
            WITH per_doc AS (
                SELECT lang,
                  CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
                  CASE WHEN len(text) > 0
                       THEN CAST(len(text) - len(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / len(text)
                       ELSE 0.0 END AS p_ratio_raw,
                  CASE WHEN len(regexp_split_to_array(lower(trim(text)), '\\s+')) > 0
                       THEN CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                                 t -> t IN {STOPWORDS_SQL})) AS DOUBLE)
                            / len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                       ELSE 0.0 END AS s_ratio_raw
                FROM documents
            ), scored AS (
                SELECT lang, n_tokens,
                       ROUND(p_ratio_raw, 6) AS p_ratio,
                       ROUND(s_ratio_raw, 6) AS s_ratio,
                       ROUND((LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                              + GREATEST(0.0, 1.0 - p_ratio_raw * 4.0)
                              + LEAST(s_ratio_raw * 5.0, 1.0)) / 3.0, 6) AS quality
                FROM per_doc
            )
            SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   ROUND(AVG(p_ratio), 6) AS avg_punct,
                   ROUND(AVG(s_ratio), 6) AS avg_stop,
                   ROUND(AVG(quality), 6) AS avg_quality
            FROM scored GROUP BY lang ORDER BY lang
        """,
        "lang_guess": """
            WITH v AS (
                SELECT CASE WHEN len(text) > 0
                            THEN CAST(len(text) - len(regexp_replace(lower(text), '[aeiou]', '', 'g')) AS DOUBLE) / len(text)
                            ELSE 0.0 END AS vr,
                       regexp_matches(text, '[一-鿿]') AS cjk
                FROM documents
            )
            SELECT CASE WHEN cjk THEN 'zh'
                        WHEN vr >= 0.42 THEN 'fi'
                        WHEN vr >= 0.38 THEN 'es'
                        WHEN vr >= 0.34 THEN 'en'
                        WHEN vr >= 0.30 THEN 'de'
                        ELSE 'other' END AS lang_guess,
                   COUNT(*) AS n
            FROM v GROUP BY lang_guess ORDER BY lang_guess
        """,
        "fingerprint": """
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents ORDER BY doc_id LIMIT 100
        """,
        "token_count_bpe": """
            WITH per_doc AS (
                SELECT source,
                       len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])', 1)) AS n_bpe
                FROM documents
            )
            SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_bpe) AS BIGINT) AS total_bpe
            FROM per_doc GROUP BY source ORDER BY source
        """,
        "cosine_topk": _COSINE_TOPK_SQL,
        # IVF at full probe is exactly brute force — same oracle
        "ivf_full_topk": _COSINE_TOPK_SQL,
        "lsh_cosine_topk": _lsh_topk_sql(6, 64, 42, 5),
        "lsh_near_dup": _lsh_near_dup_sql(6, 64, 42, 0.35, 1000),
        "embedding_dup_clusters": """
            WITH RECURSIVE e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 400
            ), pairs AS (
                SELECT a.vec_id AS a, b.vec_id AS b
                FROM e a JOIN e b ON a.vec_id < b.vec_id
                WHERE ROUND(list_dot_product(a.v, b.v) /
                      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
            ), edges AS (
                SELECT a AS src, b AS dst FROM pairs
                UNION
                SELECT b AS src, a AS dst FROM pairs
            ), reach AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
            )
            SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
            FROM reach GROUP BY src ORDER BY doc_id
        """,
        "sample_split": """
            WITH b AS (
                SELECT CASE WHEN bk < 90 THEN 'train'
                            WHEN bk < 95 THEN 'val'
                            ELSE 'test' END AS split,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n
                FROM (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100 AS bk,
                             text
                      FROM documents)
            )
            SELECT split, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens
            FROM b GROUP BY split ORDER BY split
        """,
        "seq_packing": """
            WITH t AS (
                SELECT source AS part, doc_id,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
                FROM documents
            ), c AS (
                SELECT part, n_tokens,
                       SUM(n_tokens) OVER (PARTITION BY part ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM t
            )
            SELECT part, CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_id,
                   COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
            FROM c GROUP BY part, bin_id ORDER BY part, bin_id
        """,
        "decontaminate": """
            WITH d AS (
                SELECT doc_id,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100 AS bk,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS w
                FROM documents
            ), sh AS (
                SELECT doc_id, bk,
                       unnest(CASE WHEN len(w) >= 13 THEN
                           list_transform(generate_series(1, len(w) - 12),
                                          i -> md5(array_to_string(w[i:i + 12], ' ')))
                       ELSE [md5(array_to_string(w, ' '))] END) AS g
                FROM d
            ), ev AS (SELECT DISTINCT g FROM sh WHERE bk >= 95)
            SELECT s.doc_id, COUNT(DISTINCT s.g) AS n_hits
            FROM sh s JOIN ev USING (g)
            WHERE s.bk < 90
            GROUP BY s.doc_id ORDER BY doc_id
        """,
        "repetition_filter": """
            WITH t AS (
                SELECT doc_id,
                       (regexp_split_to_array(lower(trim(text)), '\\s+'))[1:2000] AS toks
                FROM documents
            ), g AS (
                SELECT doc_id, toks, len(toks) AS n_w,
                       CASE WHEN len(toks) >= 2 THEN
                           list_transform(generate_series(1, len(toks) - 1),
                                          i -> array_to_string(toks[i:i + 1], ' '))
                       ELSE [array_to_string(toks, ' ')] END AS g2,
                       CASE WHEN len(toks) >= 3 THEN
                           list_transform(generate_series(1, len(toks) - 2),
                                          i -> array_to_string(toks[i:i + 2], ' '))
                       ELSE [array_to_string(toks, ' ')] END AS g3
                FROM t
            ), m AS (
                SELECT doc_id,
                       round(CASE WHEN n_w > 0
                                  THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / n_w
                                  ELSE 0.0 END, 6) AS dup_word_frac,
                       round(CASE WHEN n_w >= 2
                                  THEN CAST(list_max(list_transform(list_distinct(g2),
                                       d -> len(list_filter(g2, x -> x = d)))) AS DOUBLE) / len(g2)
                                  ELSE 0.0 END, 6) AS top_2gram_frac,
                       round(CASE WHEN n_w >= 3
                                  THEN CAST(len(list_filter(g3,
                                       x -> len(list_filter(g3, y -> y = x)) >= 2)) AS DOUBLE) / len(g3)
                                  ELSE 0.0 END, 6) AS dup_3gram_frac
                FROM g
            )
            SELECT doc_id, dup_word_frac, top_2gram_frac, dup_3gram_frac,
                   (dup_word_frac <= 0.50 AND top_2gram_frac <= 0.20
                    AND dup_3gram_frac <= 0.30) AS keep
            FROM m ORDER BY doc_id
        """,
        "stratified_sample": """
            WITH v AS (
                SELECT doc_id,
                       CASE WHEN len(text) > 0
                            THEN CAST(len(text) - len(regexp_replace(lower(text), '[aeiou]', '', 'g')) AS DOUBLE) / len(text)
                            ELSE 0.0 END AS vr,
                       regexp_matches(text, '[一-鿿]') AS cjk
                FROM documents
            ), s AS (
                SELECT doc_id,
                       CASE WHEN cjk THEN 'zh'
                            WHEN vr >= 0.42 THEN 'fi'
                            WHEN vr >= 0.38 THEN 'es'
                            WHEN vr >= 0.34 THEN 'en'
                            WHEN vr >= 0.30 THEN 'de'
                            ELSE 'other' END AS stratum
                FROM v
            ), c AS (
                SELECT stratum, COUNT(*) AS c FROM s GROUP BY stratum
            ), tot AS (
                SELECT SUM(c) AS total, SUM(power(c, 0.5)) AS sum_w FROM c
            ), r AS (
                SELECT stratum,
                       CAST(floor(round(10000 * least(1.0,
                            0.5 * total * power(c, 0.5) / (sum_w * c)), 9)) AS BIGINT) AS thresh
                FROM c, tot
            )
            SELECT s.stratum, s.doc_id
            FROM s JOIN r USING (stratum)
            WHERE ('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 7))::BIGINT % 10000 < r.thresh
            ORDER BY stratum, doc_id
        """,
        "passage_stats": """
            WITH t AS (
                SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                FROM documents
            ), p AS (
                SELECT doc_id,
                       unnest(list_distinct(CASE WHEN len(toks) >= 10 THEN
                           list_transform(generate_series(0, CAST(floor(len(toks) / 10) AS INT) - 1),
                                          i -> md5(array_to_string(toks[i * 10 + 1:i * 10 + 10], ' ')))
                       ELSE CAST([] AS VARCHAR[]) END)) AS fp
                FROM t
            ), dupfp AS (
                SELECT fp FROM p GROUP BY fp HAVING COUNT(*) >= 2
            ), per_doc AS (
                SELECT doc_id, COUNT(*) AS n_passages FROM p GROUP BY doc_id
            ), dup_doc AS (
                SELECT p.doc_id, COUNT(*) AS n_dup_passages
                FROM p JOIN dupfp USING (fp) GROUP BY p.doc_id
            )
            SELECT doc_id, n_passages, n_dup_passages
            FROM per_doc JOIN dup_doc USING (doc_id)
            ORDER BY doc_id
        """,
    }


if __name__ == "__main__":
    from sqllog_analysis_spark.session import get_spark

    spark = get_spark("entry_smoke")
    df = entry(spark)
    df.show(10, truncate=False)
    print("rows:", df.count())
