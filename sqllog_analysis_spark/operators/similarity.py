"""Similarity search over embedding columns (array<float/double>).

- brute_force_topk: exact cosine top-k for a (small, broadcast) probe set —
  the correctness baseline.  Dot products run JVM-side via
  F.aggregate(F.zip_with(...)), inside whole-stage codegen; no Python.
- lsh_topk: random-hyperplane LSH — corpus is bucketed by sign bits, probes
  only join their own bucket (plus optional multi-probe neighbors).  This
  is the scale path: the per-probe candidate set shrinks by ~2^bits.

At 100 TB the corpus side stays partitioned; only probes (small) broadcast.
"""

from __future__ import annotations

import hashlib
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


# r6 optimization note: the norm of each vector is computed ONCE PER ROW
# (before any self/probe join) instead of once per candidate pair inside
# the join condition — see the `_norm(...)` projections below.  The values
# are bit-identical (same expression, same fold), only the evaluation
# count changes: O(rows) instead of O(candidate pairs), which for the
# near-dup self-joins removes two thirds of the per-pair interpreted
# higher-order-function work.  (An unrolled fixed-dim codegen dot was
# measured SLOWER here: the 64-term generated method exceeds HotSpot's
# JIT size threshold and runs in the bytecode interpreter — see
# OPTIMIZATION_r06.md.)


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors per probe.

    Returns (probe_id, neighbor_id, cosine, rank); self-matches excluded;
    ties broken by neighbor id for determinism.

    Norms are projected once per row BEFORE the join (r6) — bit-identical
    values, O(rows) instead of O(pairs) norm evaluations.
    """
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("pvec"),
        _norm(F.col(vec_col)).alias("_pn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    cos = _dot(F.col("pvec"), F.col("cvec")) / (F.col("_pn") * F.col("_cn"))
    scored = (
        c.join(F.broadcast(p))
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .withColumn("cosine", F.round(cos, 6))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def hyperplanes(dim: int, bits: int = 12, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 Rademacher hyperplanes, entry (i, j) derived from
    md5(f"{seed}:{i}:{j}") (driver-side, broadcast as literals).

    Rademacher entries give the same sign-LSH collision guarantees as
    Gaussian planes (Achlioptas-style database-friendly projections), and
    the md5 derivation makes the construction reproducible in ANY engine
    with an md5 function — the DuckDB oracle rebuilds the identical plane
    matrix in SQL, so bucket assignment (and hence the whole approximate
    result) is foreign-checkable, not just recall-pinned."""
    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[0], 16) & 1
            else -1.0
            for j in range(dim)
        ]
        for i in range(bits)
    ]


# Above this many inlined literals the sign-plane expression tree stops
# being a codegen win and becomes a quadratic plan-size hazard; switch to
# the Arrow-vectorized matmul UDF instead (numpy does (n, dim) @ (dim,
# bits) per batch — one closure-captured plane matrix, constant plan size).
_MAX_PLANE_LITERALS = 2048


def bucket_ids(vec_col, planes: list[list[float]]):
    """Sign-bit bucket id of a vector under the given hyperplanes.

    Small plane sets inline as JVM column expressions (whole-stage
    codegen); larger ones dispatch to a pandas UDF automatically — same
    buckets, constant plan size at any ``bits``.

    The dot product is rounded to 9 decimals before the sign test: a dot
    within float rounding of zero could otherwise flip sign between
    engines that sum in different orders (Spark's sequential fold vs a
    SQL oracle's GROUP BY SUM), nondeterministically changing a bucket
    bit.  Rounding pins the boundary identically everywhere; the DuckDB
    oracle applies the same ROUND before its sign test.
    """
    bits = len(planes)
    if bits > 62:
        raise ValueError(f"bits={bits} exceeds the 63-bit bucket id")
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    if bits * len(planes[0]) > _MAX_PLANE_LITERALS:
        return _bucket_ids_udf(planes)(col)
    bucket = F.lit(0).cast("long")
    for i, h in enumerate(planes):
        arr = F.array(*[F.lit(float(v)) for v in h])
        bucket = bucket + F.when(
            F.round(_dot(col, arr), 9) > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def _bucket_ids_udf(planes: list[list[float]]):
    from pyspark.sql.functions import pandas_udf

    mat = np.asarray(planes, dtype=np.float64)  # (bits, dim)
    weights = (np.int64(1) << np.arange(mat.shape[0], dtype=np.int64))

    @pandas_udf("long")
    def _buckets(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy())  # (n, dim)
        # same 9-decimal boundary rounding as the column path (bucket_ids)
        signs = np.round(m @ mat.T, 9) > 0  # (n, bits)
        return pd.Series((signs @ weights).astype(np.int64))

    return _buckets


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate cosine top-k: join probes to corpus rows in the SAME
    hyperplane-sign bucket, then exact-rank within candidates.

    ``multi_probe > 0`` additionally probes every bucket within that
    Hamming distance of the probe's own bucket (classic multi-probe LSH:
    a near neighbor that lands just across one hyperplane is recovered by
    flipping that bit).  Cost grows with C(bits, ≤multi_probe) probe rows
    — probes are the SMALL side, so this multiplies the broadcast, not
    the corpus scan."""
    planes = hyperplanes(dim, bits, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        bucket_ids(vec_col, planes).alias("bucket"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("pvec"),
        bucket_ids(vec_col, planes).alias("bucket"),
        _norm(F.col(vec_col)).alias("_pn"),
    )
    if multi_probe > 0:
        # all XOR masks of Hamming weight ≤ multi_probe: C(bits, ≤d) probe
        # rows per probe, generated as driver-side literals (bits ≤ 62 so
        # the mask list is small; the corpus side is untouched)
        masks = [0] + [
            sum(1 << i for i in idxs)
            for d in range(1, min(multi_probe, bits) + 1)
            for idxs in combinations(range(bits), d)
        ]
        flips = F.array(
            *[F.col("bucket").bitwiseXOR(F.lit(m).cast("long")) for m in masks]
        )
        p = p.withColumn("bucket", F.explode(flips))
    scored = (
        c.join(F.broadcast(p), "bucket")
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("pvec"), F.col("cvec"))
                / (F.col("_pn") * F.col("_cn")),
                6,
            ),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def lsh_near_dup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.9,
    bits: int = 8,
    seed: int = 42,
    max_bucket: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: int = 1,
) -> DataFrame:
    """Whole-corpus embedding near-duplicate pairs (a < b, cosine ≥
    threshold) via a hyperplane-LSH SELF-join — the symmetric large-both-
    sides case where :func:`lsh_topk`'s broadcast-probes shape does not
    apply.

    Scale shape mirrors minhash_lsh_pairs: bucket assignment is narrow
    (sign bits of the md5-derived Rademacher planes), candidates come from
    ONE shuffle on the bucket key (never all-pairs), and ``max_bucket``
    caps degenerate buckets with a window count over the self-join's own
    partitioning (no extra exchange).

    Recall follows the sign-LSH guarantee: a pair at cosine c collides in
    one plane set with probability p = (1 - acos(c)/π)^bits.  ``seeds > 1``
    unions the bucket assignments of that many INDEPENDENT plane sets
    (seed, seed+1, …) before the self-join, lifting recall to 1-(1-p)^k
    while multiplying candidate volume only k× (still never all-pairs:
    the bucket key is (plane-set, bucket), so candidates stay within one
    plane set's bucket; final ``distinct`` merges pairs found by several
    sets).  ``seeds=1`` is bit-identical to the pre-``seeds`` behavior.

    r6: the per-bucket pair stage runs as ONE Arrow-batched numpy pass
    per (plane-set, bucket) group instead of a bucket self-join whose
    condition evaluates an interpreted higher-order dot per candidate
    pair.  Bit-exactness is preserved by construction: the dot and norm
    folds run as 'acc = acc + x_j·y_j' across j in ascending order —
    element-wise over the whole pair vector, so each pair's additions
    happen in EXACTLY the zip_with/aggregate order (numpy's pairwise
    np.sum is deliberately NOT used) — and rounding/threshold/distinct
    stay JVM-side on the raw double (the Python side pre-filters with a
    1e-6 margin below the threshold, which rounding to 6 dp can never
    cross).  Memory per task is bounded by the bucket cap (~8 scratch
    vectors of max_bucket²/2 doubles).  Same one-shuffle scale shape;
    pinned equal to the join formulation by
    tests/test_training_ops.py::test_lsh_near_dup_numpy_matches_join.
    """
    if seeds < 1:
        raise ValueError(f"seeds must be >= 1, got {seeds}")
    import numpy as np

    variants = []
    for s in range(seeds):
        planes = hyperplanes(dim, bits, seed + s)
        variants.append(
            corpus.select(
                F.lit(s).alias("ls"),
                F.col(id_col).alias("id"),
                F.col(vec_col).alias("v"),
                bucket_ids(vec_col, planes).alias("bucket"),
            )
        )
    v = variants[0]
    for extra in variants[1:]:
        v = v.unionByName(extra)

    # drop over-cap buckets BEFORE the Python stage: applyInPandas
    # materializes each group as one in-memory frame, so a degenerate
    # bucket must never reach it at 100 TB.  The count window shares the
    # (ls, bucket) exchange the groupBy needs — no extra shuffle; the
    # in-function guard below stays as belt-and-braces.
    w = Window.partitionBy("ls", "bucket")
    v = v.withColumn("_c", F.count("*").over(w)).filter(
        F.col("_c") <= max_bucket
    ).drop("_c")

    id_type = corpus.schema[id_col].dataType.simpleString()
    margin = threshold - 1e-6

    def bucket_pairs(key, pdf):
        import pandas as pd

        ids = pdf["id"].to_numpy()
        n = len(pdf)
        if n < 2 or n > max_bucket:
            return pd.DataFrame(
                {"a": ids[:0], "b": ids[:0], "cosine_raw": np.zeros(0)}
            )
        mat = np.stack(pdf["v"].to_numpy())  # (n, dim)
        acc = np.zeros(n)
        for j in range(mat.shape[1]):  # exact sequential fold per row
            acc = acc + mat[:, j] * mat[:, j]
        nv = np.sqrt(acc)
        ia, ib = np.triu_indices(n, 1)
        swap = ids[ia] > ids[ib]
        ia, ib = np.where(swap, ib, ia), np.where(swap, ia, ib)
        va, vb = mat[ia], mat[ib]
        dot = np.zeros(len(ia))
        for j in range(mat.shape[1]):  # exact sequential fold per pair
            dot = dot + va[:, j] * vb[:, j]
        cos = dot / (nv[ia] * nv[ib])
        keep = cos >= margin
        return pd.DataFrame(
            {"a": ids[ia][keep], "b": ids[ib][keep], "cosine_raw": cos[keep]}
        )

    out = v.groupBy("ls", "bucket").applyInPandas(
        bucket_pairs, f"a {id_type}, b {id_type}, cosine_raw double"
    )
    return (
        out.withColumn("cosine", F.round("cosine_raw", 6))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
        .distinct()
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the other standard scale path next to
# hyperplane LSH: partition the corpus into Voronoi cells around learned
# centroids; probes search only their nprobe nearest cells.
# ---------------------------------------------------------------------------

def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    iters: int = 5,
    sample_cap: int = 4096,
) -> np.ndarray:
    """Mini-kmeans over a bounded, DETERMINISTIC sample (first sample_cap
    rows by id — TakeOrdered, no full sort), trained driver-side in numpy.
    Standard IVF practice: centroid training touches a sample, never the
    corpus; the corpus-side work is one narrow assignment pass."""
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(id_col)
        .limit(sample_cap)
        .collect()
    )
    if not rows:
        raise ValueError("empty corpus: no rows to train IVF centroids on")
    x = np.asarray([r[1] for r in rows], dtype=np.float64)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                cents[c] = x[m].mean(axis=0)
    return cents


def _ivf_cells_udf(cents: np.ndarray, nprobe: int):
    """Arrow-vectorized nearest-cells assignment: argsort over
    ||x-c||² = ||x||² − 2x·c + ||c||² (the ||x||² term is rank-invariant).
    Constant plan size at any (n_centroids, dim)."""
    from pyspark.sql.functions import pandas_udf

    c2 = (cents**2).sum(axis=1)  # (n_centroids,)

    @pandas_udf("array<long>")
    def _cells(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy())  # (n, dim)
        scores = -2.0 * (m @ cents.T) + c2  # (n, n_centroids)
        top = np.argsort(scores, axis=1)[:, :nprobe].astype(np.int64)
        return pd.Series(list(top))

    return _cells


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via IVF: corpus rows live in their single
    nearest cell; each probe searches its ``nprobe`` nearest cells with
    exact cosine ranking inside the candidate set.

    nprobe == n_centroids degenerates to exact brute force (pytest pins
    this equivalence); smaller nprobe trades recall for a ~n_centroids/
    nprobe shrink of the scanned corpus.  The corpus never shuffles: the
    cell assignment is a narrow Arrow pass, and probes (small) broadcast.
    """
    cents = ivf_centroids(corpus, n_centroids, vec_col, id_col, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.element_at(_ivf_cells_udf(cents, 1)(F.col(vec_col)), 1).alias("cell"),
    )
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("pvec"),
        F.explode(_ivf_cells_udf(cents, nprobe)(F.col(vec_col))).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(p), "cell")
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .withColumn("cosine", F.round(cosine_col(F.col("pvec"), F.col("cvec")), 6))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
        .distinct()
    )
