"""Deduplication operators for large-scale training-data pipelines.

All four variants are shuffle-conscious Spark-native compositions (no
Python UDFs):

- exact:       hash-groupBy on a normalized fingerprint — one shuffle.
- minhash LSH: shingle → minhashes → band buckets → bucket self-join.
               Candidate pairs are only generated within buckets, never
               all-pairs; a per-bucket cap bounds degenerate buckets.
- simhash:     per-bit weighted sign aggregation → bit signature;
               near-dups share signatures (or differ in few bits).
- n-gram Jaccard: exact similarity on LSH candidates (or small inputs).

Hash functions (``hash_fn``):
- ``murmur3`` / ``xxhash64``: JVM-native, the 100 TB scale path.
- ``md5``: bit-identical in Spark and DuckDB (and every other engine), so
  the driver contract can hash-check signatures and candidate pairs
  against a pure-SQL oracle.  Same algorithm, only the hash primitive
  differs.  Minhash over md5 takes the LEXICOGRAPHIC min of the hex
  digests (a hex string is a fixed-width big-endian encoding, so string
  order == numeric order); simhash over md5 uses the first 15 hex chars
  as a 60-bit integer.

At 100 TB the only all-to-all structure is the band-bucket shuffle, whose
keys are (band_idx, band_hash) — fine-grained and uniform by construction;
hot buckets (boilerplate docs) are capped with a per-bucket size limit
computed by a window count over the SAME partitioning as the self-join,
so the cap adds no extra exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from sqllog_analysis_spark.functions.text import bind_once, fingerprint
from sqllog_analysis_spark.session import scan_partitions


def _spread_compact_input(df: DataFrame) -> DataFrame:
    """Hash-signature derivation is CPU-heavy per row, but a compact input
    (one small parquet file) arrives as ONE scan partition — leaving every
    core but one idle (measured: 6.4 s single-task vs sub-second spread,
    sf0.1).  A round-robin repartition of the *input* rows is one tiny
    shuffle that unlocks full parallelism; at real scale the file splits
    already provide partitions and this is a no-op.

    Compactness is judged from file metadata by
    ``session.scan_partitions`` (no job, no plan→RDD conversion on every
    signature call).  Non-file inputs (createDataFrame fixtures) report no
    scan and get spread — right for them; a big multi-file input splits
    into ≥ n partitions and passes through untouched."""
    n = df.sparkSession.sparkContext.defaultParallelism
    n_scan = scan_partitions(df)
    return df.repartition(n) if n_scan is None or n_scan < n else df


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id representative per normalized-text fingerprint.
    Returns (fp, keep_id, dup_count)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def _shingles(text_col: str, k: int) -> F.Column:
    """k-word shingles of lowercased whitespace-tokenized text.

    The token split is bound once via :func:`bind_once` (r6): the shingle
    transform's lambda body otherwise re-evaluates the whole-text split
    per gram position — O(n²) in document length."""

    def body(toks: F.Column) -> F.Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(
            n >= k,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))),
        ).otherwise(F.array(F.concat_ws(" ", toks)))

    return bind_once(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), body)


# Java \s is the ASCII class [ \t\n\x0B\f\r]; Python's \s is Unicode-wide,
# so the Python mirror of the tokenizer must spell the class out.
_JAVA_WS_RE = None


def _py_shingles(text, k: int) -> list[str]:
    """Pure-Python mirror of :func:`_shingles` for the Arrow-vectorized
    md5 flavor — MUST tokenize exactly like the Spark expression:
    trim = strip 0x20 only, lower, split on the Java ASCII ``\\s+`` class
    keeping leading/trailing empty tokens (Pattern.split limit -1 ==
    re.split), under-k-token docs collapse to one whole-text gram.
    Parity is pinned by tests/test_training_ops.py::
    test_py_shingles_matches_spark_expression."""
    global _JAVA_WS_RE
    if _JAVA_WS_RE is None:
        import re

        _JAVA_WS_RE = re.compile("[ \t\n\x0b\x0c\r]+")
    toks = _JAVA_WS_RE.split((text or "").strip(" ").lower())
    if len(toks) >= k:
        return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    return [" ".join(toks)]


# modulus for the md5-flavor affine hash family (Mersenne prime 2^31-1):
# products a*x stay < 2^59, safely inside BIGINT in every engine
MINHASH_P = (1 << 31) - 1


def _affine_pair(i: int) -> tuple[int, int]:
    """Deterministic (a_i, b_i) for the md5-flavor universal hash family
    h_i(x) = (a_i·x + b_i) mod P — md5-derived so any engine can rebuild
    them (a_i forced odd/nonzero).  Computed per seed, so any n_hashes
    works."""
    import hashlib

    def c(tag: str) -> int:
        return int(hashlib.md5(f"{tag}:{i}".encode()).hexdigest()[:7], 16)

    return c("a") | 1, c("b")


def minhash_affine_consts(n_hashes: int) -> list[tuple[int, int]]:
    return [_affine_pair(i) for i in range(n_hashes)]


def _minhash_hasher(hash_fn: str):
    """seed → (shingle-hash → per-seed hash column builder).

    murmur3 (scale flavor): n_hashes independent F.hash(s, seed) passes —
    JVM murmur is cheap enough that re-hashing per seed wins on plan
    simplicity.

    md5 (oracle flavor): ONE md5 per shingle → 60-bit int → affine family
    (a_i·x + b_i) mod 2^31-1 (classic universal hashing).  Round 4: this
    replaced per-seed md5(concat(seed, s)) — 16 md5 passes collapsed into
    one plus 16 integer transforms, same DuckDB-reproducibility (the
    oracle rebuilds the identical ints in SQL).

    NB: pyspark treats 2-param lambdas as the (element, index)
    higher-order variant, so the seed must be closed over, not a lambda
    parameter."""
    if hash_fn == "murmur3":
        return None, lambda seed: (lambda s: F.hash(s, F.lit(seed)))
    if hash_fn == "md5":
        base = lambda s: F.pmod(  # noqa: E731
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"), F.lit(MINHASH_P)
        )

        def per_seed(seed: int):
            a, b = _affine_pair(seed)
            return lambda x: F.pmod(F.lit(a) * x + F.lit(b), F.lit(MINHASH_P))

        return base, per_seed
    raise ValueError(f"unsupported minhash hash_fn: {hash_fn}")


def _minhash_md5_signatures_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    shingle_k: int,
) -> DataFrame:
    """Arrow-vectorized md5-flavor minhash signatures (r6).

    Integer-exact mirror of the JVM expression chain (one md5 per shingle
    → 60-bit int mod P → per-seed affine (aᵢ·x+bᵢ) mod P → min): Python's
    ``int(md5hex[:15], 16) % P`` equals ``pmod(conv(substring(md5(s),1,
    15),16,10), P)`` and all affine products stay < 2^59, so signatures
    are bit-identical — the DuckDB oracle replay is unchanged.  Per Arrow
    batch the shingle set is deduped before hashing (min over a multiset
    == min over its set) and the n_hashes mins are one numpy broadcast —
    replacing n_hashes interpreted array traversals per row (guide §4.2).
    """
    import numpy as np
    import pandas as pd

    consts = minhash_affine_consts(n_hashes)
    a_vec = np.array([c[0] for c in consts], dtype=np.int64)
    b_vec = np.array([c[1] for c in consts], dtype=np.int64)
    id_type = df.schema[id_col].dataType.simpleString()
    schema = ", ".join([f"{id_col} {id_type}"] + [f"h{i} long" for i in range(n_hashes)])

    def gen(batches):
        import hashlib

        for pdf in batches:
            sigs = np.empty((len(pdf), n_hashes), dtype=np.int64)
            texts = pdf[text_col].tolist()
            for r, text in enumerate(texts):
                grams = set(_py_shingles(text, shingle_k))
                xs = np.fromiter(
                    (
                        int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                        % MINHASH_P
                        for g in grams
                    ),
                    dtype=np.int64,
                    count=len(grams),
                )
                sigs[r] = ((xs[:, None] * a_vec + b_vec) % MINHASH_P).min(axis=0)
            out = {id_col: pdf[id_col].to_numpy()}
            for i in range(n_hashes):
                out[f"h{i}"] = sigs[:, i]
            yield pd.DataFrame(out)

    return df.select(id_col, text_col).mapInPandas(gen, schema)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    shingle_k: int = 5,
    hash_fn: str = "murmur3",
) -> DataFrame:
    """(id, h0..h{n-1}) — minhash over shingles.

    murmur3 (the 100 TB scale flavor): fully NARROW JVM expressions — per
    row, ``array_min(transform(shingles, s → h(s, i)))`` — no explode, no
    shuffle, scales linearly with partitions (the naive explode +
    64-column groupBy shuffles |docs|×|shingles| rows).

    md5 (the oracle flavor): same algebra, Arrow-vectorized (r6) — the
    shingle+md5+affine-min pipeline runs per batch in numpy/hashlib
    instead of n_hashes interpreted array traversals per row; still
    narrow, bit-identical signatures (see _minhash_md5_signatures_arrow).
    """
    if hash_fn == "md5":
        return _minhash_md5_signatures_arrow(
            _spread_compact_input(df), id_col, text_col, n_hashes, shingle_k
        )
    base, per_seed = _minhash_hasher(hash_fn)
    pre = _spread_compact_input(df).select(
        F.col(id_col), _shingles(text_col, shingle_k).alias("_shingles")
    )
    if base is not None:
        # one expensive hash pass over the shingles, n cheap affine passes
        pre = pre.select(
            F.col(id_col), F.transform(F.col("_shingles"), base).alias("_shingles")
        )
    sigs = [
        F.array_min(F.transform(F.col("_shingles"), per_seed(i))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return pre.select(F.col(id_col), *sigs)


def minhash_band_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    hash_fn: str = "murmur3",
) -> DataFrame:
    """(id, band, bucket) — each doc's banded-minhash bucket assignments,
    the shared substrate of :func:`minhash_lsh_pairs` and of bucket-size
    diagnostics (tools/bench_datascale.py reports how many buckets a
    planted boilerplate cluster pushes past the cap)."""
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n_hashes, shingle_k, hash_fn)

    def band_key(b: int) -> F.Column:
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        if hash_fn == "md5":
            # decimal ints joined with '|': exact (injective) band key,
            # reproducible in any SQL engine for the oracle
            return F.concat_ws("|", *cols)
        return F.hash(*cols).cast("string")

    band_cols = [
        F.struct(F.lit(b).alias("band"), band_key(b).alias("bucket"))
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    max_bucket: int = 200,
    hash_fn: str = "murmur3",
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) via banded minhash LSH.

    Docs sharing any band bucket become a candidate pair.  ``max_bucket``
    caps degenerate buckets (e.g. empty docs) so the self-join can't
    quadratically explode — the dropped buckets are exact-duplicate
    clusters better handled by exact_dedup.  The cap is a window count
    over (band, bucket): it reuses the exact partitioning the self-join
    needs, so capping adds no extra shuffle.
    """
    buckets = minhash_band_buckets(
        df, id_col, text_col, n_hashes, bands, shingle_k, hash_fn
    )

    w = Window.partitionBy("band", "bucket")
    small = (
        buckets.withColumn("_c", F.count("*").over(w))
        .filter(F.col("_c") <= max_bucket)
        .drop("_c")
    )
    a = small.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("a"))
    b = small.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("b"))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


_INDEX_PARAMS = ("n_hashes", "bands", "shingle_k", "hash_fn")


def write_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    hash_fn: str = "murmur3",
    mode: str = "overwrite",
) -> None:
    """Persist the banded-minhash bucket index (doc_id, band, bucket) for
    INCREMENTAL dedup: a deduped 100 TB corpus keeps this narrow index
    (``bands`` rows per doc) so a daily increment joins against buckets
    instead of re-shingling and re-hashing the whole history.

    A ``_params.json`` sidecar pins the signature parameters; the
    incremental reader refuses an index built with different parameters
    (signatures from different parameter sets are incomparable, and a
    silent mismatch would return garbage pairs).  ``mode='append'`` adds
    a new batch's buckets after it has been deduped in.
    """
    import json
    import os

    params = {"n_hashes": n_hashes, "bands": bands,
              "shingle_k": shingle_k, "hash_fn": hash_fn}
    sidecar = os.path.join(path, "_params.json")
    if mode == "append" and os.path.exists(sidecar):
        with open(sidecar) as f:
            existing = json.load(f)
        if existing != params:
            raise ValueError(
                f"minhash index at {path} was built with {existing}, "
                f"append requested with {params}"
            )
    buckets = minhash_band_buckets(
        df, id_col, text_col, n_hashes, bands, shingle_k, hash_fn
    ).withColumnRenamed(id_col, "doc_id")
    buckets.write.mode(mode).parquet(path)
    with open(sidecar, "w") as f:
        json.dump(params, f)


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = 200,
) -> DataFrame:
    """Candidate near-duplicate pairs TOUCHING the new batch: new↔old and
    new↔new, never old↔old — the incremental-ingest shape.  Exactly the
    pairs :func:`minhash_lsh_pairs` over (old ∪ new) would emit minus the
    pairs internal to the old corpus, cap included (the bucket cap is
    computed over the UNION, so a bucket the full run would drop is
    dropped here too; pinned by test_minhash_incremental_matches_full).

    Signature parameters come from the index's ``_params.json`` sidecar —
    the one source of truth — so a caller cannot accidentally hash the
    increment differently from the history.

    Scale shape: ONE shuffle on (band, bucket); the old side arrives
    pre-hashed from the narrow parquet index (predicate-pruned scan, no
    text), only the increment pays shingling.  Emits (a, b, a_is_new,
    b_is_new) with a < b.
    """
    import json
    import os

    spark = new_docs.sparkSession
    with open(os.path.join(index_path, "_params.json")) as f:
        p = json.load(f)

    new_b = minhash_band_buckets(
        new_docs, id_col, text_col,
        p["n_hashes"], p["bands"], p["shingle_k"], p["hash_fn"],
    ).select(F.col(id_col).alias("doc_id"), "band", "bucket",
             F.lit(True).alias("_new"))
    old_b = spark.read.parquet(index_path).select(
        "doc_id", "band", "bucket", F.lit(False).alias("_new")
    )
    union = new_b.unionByName(old_b)

    w = Window.partitionBy("band", "bucket")
    capped = (
        union.withColumn("_c", F.count("*").over(w))
        .filter(F.col("_c") <= max_bucket)
        .drop("_c")
    )
    lhs = capped.filter(F.col("_new")).select(
        "band", "bucket", F.col("doc_id").alias("x"))
    rhs = capped.select(
        "band", "bucket", F.col("doc_id").alias("y"), F.col("_new").alias("y_new"))
    return (
        lhs.join(rhs, ["band", "bucket"])
        .filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a"),
            F.greatest("x", "y").alias("b"),
            # x is always new; y's flag decides each endpoint's provenance
            F.when(F.col("x") < F.col("y"), F.lit(True)).otherwise(F.col("y_new")).alias("a_is_new"),
            F.when(F.col("x") < F.col("y"), F.col("y_new")).otherwise(F.lit(True)).alias("b_is_new"),
        )
        .distinct()
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash per document: sign of per-bit sums of token hashes.

    Fully NARROW: token hashes live in a per-row array; each bit's signed
    sum is an ``aggregate`` over that array — no explode, no shuffle.

    ``xxhash64`` (default) gives a genuine 64-bit signature (F.hash is
    32-bit murmur3 — sign-extending it would replicate bit 31's vote into
    bits 31-63).  ``md5`` gives a 60-bit signature whose bits are
    reproducible in any SQL engine (first 15 hex chars as an integer),
    used by the driver-contract oracle.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    if hash_fn == "xxhash64":
        th = F.transform(toks, lambda t: F.xxhash64(t))
    elif hash_fn == "md5":
        bits = min(bits, 60)
        th = F.transform(
            toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
        )
    else:
        raise ValueError(f"unsupported simhash hash_fn: {hash_fn}")

    # ONE aggregate pass builds all per-bit vote counts as an array (round 2
    # used `bits` separate nested aggregates — 60 full scans of the token
    # array in one plan, dominated by codegen/compile time).  getbit(h, i)
    # reads bit i of the two's-complement long, so bit 63 (the sign bit)
    # needs no special case in the vote; only its place VALUE does (-2^63).
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    votes = F.aggregate(
        F.col("_th"),
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(idx, lambda i: F.when(F.getbit(h, i) == 1, 1).otherwise(-1)),
            lambda a, v: a + v,
        ),
    )
    # fold votes → signature: sum of place values where the vote is positive.
    # pow(2.0, i) is exact for powers of two ≤ 2^62 (double has a 53-bit
    # mantissa but powers of two are a single mantissa bit at any exponent).
    sig = F.aggregate(
        F.zip_with(
            votes,
            idx,
            lambda v, i: F.when(
                v > 0,
                F.when(i == 63, F.lit(-(1 << 63)).cast("long")).otherwise(
                    F.pow(F.lit(2.0), i.cast("double")).cast("long")
                ),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return _spread_compact_input(df).select(F.col(id_col), th.alias("_th")).select(
        F.col(id_col), sig.alias("simhash")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    bands: int = 4,
    hamming: int = 3,
    max_bucket: int = 1000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs (a < b, popcount(sig_a XOR sig_b) ≤ hamming)
    via a banded SimHash self-join.

    Standard pigeonhole banding: split the ``bits``-bit signature into
    ``bands`` contiguous chunks.  A pair within ``hamming`` bit flips
    differs in at most ``hamming`` chunks, so with ``hamming < bands`` it
    matches EXACTLY on at least one chunk — candidates come from ONE
    shuffle on (band, chunk) with FULL recall at the stated radius, never
    all-pairs.  ``max_bucket`` caps degenerate chunks (e.g. empty docs all
    hash to signature 0) with a window count over the self-join's own
    partitioning, exactly like :func:`minhash_lsh_pairs`.

    ``md5`` signatures are ≤60 bits and non-negative, so the chunk
    extraction (unsigned shift + mask) is reproducible in any SQL engine
    with plain ``>>`` — the driver contract hash-checks the md5 flavor
    against a DuckDB oracle; ``xxhash64`` is the 100 TB scale flavor.
    """
    if hash_fn == "md5":
        bits = min(bits, 60)
    if not 0 < bands <= bits or bits % bands:
        raise ValueError(f"bands must divide bits: bits={bits} bands={bands}")
    if hamming >= bands:
        raise ValueError(
            f"full recall needs hamming < bands (pigeonhole), got "
            f"hamming={hamming} bands={bands}"
        )
    width = bits // bands
    mask = (1 << width) - 1
    sigs = simhash(df, id_col, text_col, bits=bits, hash_fn=hash_fn)
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(mask)
            for i in range(bands)
        ]
    )
    banded = sigs.select(
        F.col(id_col), F.col("simhash"), F.posexplode(chunks).alias("band", "chunk")
    )
    w = Window.partitionBy("band", "chunk")
    small = (
        banded.withColumn("_c", F.count("*").over(w))
        .filter(F.col("_c") <= max_bucket)
        .drop("_c")
    )
    a = small.select("band", "chunk", F.col(id_col).alias("a"), F.col("simhash").alias("_sa"))
    b = small.select("band", "chunk", F.col(id_col).alias("b"), F.col("simhash").alias("_sb"))
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "hamming", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("int")
        )
        .filter(F.col("hamming") <= hamming)
        .select("a", "b", "hamming")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_freq: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 n-gram.

    (a, b, jaccard) for jaccard ≥ threshold.  ``max_freq`` drops stop-grams
    (n-grams in too many docs) before the pair join — the standard guard
    against quadratic blowup on boilerplate.
    """
    grams = (
        df.select(F.col(id_col), F.explode(_shingles(text_col, n)).alias("g"))
        .distinct()
    )
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("sz"))
    gfreq = grams.groupBy("g").agg(F.count("*").alias("df"))
    grams_f = grams.join(gfreq.filter(F.col("df") <= max_freq).select("g"), "g")
    a = grams_f.select(F.col("g"), F.col(id_col).alias("a"))
    b = grams_f.select(F.col("g"), F.col(id_col).alias("b"))
    common = (
        a.join(b, "g")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb"))
    return (
        common.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("sza") + F.col("szb") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def dup_clusters(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs → (doc_id, cluster_id)
    with cluster_id = the component's minimum doc id.

    This is the step after any pair generator (minhash_lsh_pairs /
    simhash / ngram_jaccard_pairs / embedding near-dup): pairs chain
    transitively (A~B, B~C ⇒ {A,B,C} are one duplicate group), and dedup
    keeps one representative per component.

    Algorithm: min-label propagation WITH pointer jumping — each round
    every node takes the min label among itself and its neighbors, then
    additionally adopts its label's own label (path-halving).  The jump
    step makes long chains converge in O(log diameter) rounds instead of
    O(diameter), so ``max_iter=25`` safely covers components of diameter
    in the millions; each round is two joins + one groupBy, all
    shuffle-partitioned on node id.  ``localCheckpoint`` cuts the lineage
    each round so the plan stays constant-size (on a cluster, point
    ``spark.sparkContext.setCheckpointDir`` at durable storage and swap in
    ``checkpoint`` for executor-failure tolerance).

    Raises ``RuntimeError`` if the propagation has not converged after
    ``max_iter`` rounds — an unconverged result would silently split one
    true component into several clusters.

    ``stats``, if given, receives ``{"rounds": <rounds run>}`` — the
    convergence evidence the at-scale bench reports (pointer jumping's
    O(log diameter) promise as a measured number).
    """
    e = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        # materialize ONCE: edges are re-joined every round, and leaving
        # them lazy re-evaluates the whole upstream pair generator (e.g.
        # the full corpus minhash) per round — the 2M-doc DATASCALE bench
        # caught CC paying the LSH cost x2 per round (BENCH/DATASCALE.md).
        # Same durability note as the per-round checkpoint below.
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nbr = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(nbr, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        # pointer jump: label ← label(label).  Labels are themselves node
        # ids, so one more equi-join halves every propagation path.
        jump = stepped.select(
            F.col("node").alias("label"), F.col("label").alias("jumped")
        )
        new_labels = (
            stepped.join(jump, "label", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("jumped", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.withColumnRenamed("label", "new_label")
            .join(labels, "node")
            .filter(F.col("new_label") != F.col("label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iter} rounds; "
            "raise max_iter (components of diameter > 2^max_iter are implausible "
            "for near-dup graphs — check the pair generator for degeneracy)"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dup_clusters_incremental(
    new_pairs: DataFrame,
    old_clusters: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Merge an increment's near-dup pairs into EXISTING cluster
    assignments without re-clustering the history — the companion of
    :func:`minhash_lsh_pairs_incremental` for the cluster step.

    Standard union-find merge: each old (doc_id, cluster_id) row is a
    star edge doc→representative, so connected components over
    (star edges ∪ new-touching pairs) equal components of the FULL pair
    graph — the old intra-cluster pair edges are redundant once their
    star is known (pinned by test_dup_clusters_incremental_matches_full).
    Cost scales with (docs already in clusters + docs touching the
    increment), not corpus size: unclustered history docs never enter.

    Emits (doc_id, cluster_id) for every doc in some cluster of the
    merged graph, min-id representative as always — an old cluster that
    gains a smaller-id member is relabeled, exactly as a full re-run
    would.
    """
    star = old_clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(a_col), F.col("cluster_id").alias(b_col)
    )
    edges = new_pairs.select(a_col, b_col).unionByName(star)
    return dup_clusters(edges, a_col, b_col, max_iter, stats)
