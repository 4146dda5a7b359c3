"""Tests for training-data operators: dedup (exact / minhash-LSH / simhash /
n-gram Jaccard), similarity search, text analysis, multimodal plumbing.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sqllog_analysis_spark.functions import text as TX
from sqllog_analysis_spark.operators import dedup as DD
from sqllog_analysis_spark.operators import similarity as SIM
from sqllog_analysis_spark.operators.multimodal import MEDIA_SCHEMA, extract_features

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "the quick brown fox jumps over a lazy dog today"),  # near-dup
    (3, "completely different content about spark engines and shuffles"),
    (4, "THE  QUICK   brown fox JUMPS over the lazy dog"),  # norm dup of 0
    (5, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs):
    out = DD.exact_dedup(docs).collect()
    by_keep = {r["keep_id"]: r["dup_count"] for r in out}
    assert by_keep[0] == 3  # 0, 1, 4 normalize identically
    assert by_keep[2] == 1 and by_keep[3] == 1 and by_keep[5] == 1


def test_minhash_signatures_deterministic_and_distinct(docs):
    sig = DD.minhash_signatures(docs, n_hashes=8, shingle_k=3).collect()
    rows = {r["doc_id"]: [r[f"h{i}"] for i in range(8)] for r in sig}
    assert rows[0] == rows[1]  # identical docs → identical signatures
    assert rows[0] != rows[3]  # different docs → different signatures
    # different seeds → (almost surely) different hash values per doc
    assert len(set(rows[0])) > 1


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["a"], r["b"])
        for r in DD.minhash_lsh_pairs(
            docs, n_hashes=16, bands=8, shingle_k=3
        ).collect()
    }
    assert (0, 1) in pairs  # exact dups always collide
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup should bucket-collide
    assert not any(3 in p for p in pairs)  # unrelated doc has no partner


def test_simhash_properties(docs):
    sig = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs).collect()}
    assert sig[0] == sig[1]
    # near-dup: small Hamming distance; unrelated: large
    ham_near = bin((sig[0] ^ sig[2]) & (2**64 - 1)).count("1")
    ham_far = bin((sig[0] ^ sig[3]) & (2**64 - 1)).count("1")
    assert ham_near < ham_far


def test_ngram_jaccard(docs):
    pairs = {
        (r["a"], r["b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 3) not in pairs


def test_brute_force_topk(spark):
    rng = np.random.default_rng(0)
    vecs = [(i, rng.standard_normal(8).tolist()) for i in range(50)]
    # vec 40 = vec 0 scaled → cosine 1.0 (nearest neighbor of 0)
    vecs[40] = (40, [2 * x for x in vecs[0][1]])
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    probes = df.filter(F.col("vec_id") == 0)
    out = SIM.brute_force_topk(df, probes, k=3).collect()
    assert len(out) == 3
    assert out[0]["neighbor_id"] == 40 and out[0]["rank"] == 1
    assert abs(out[0]["cosine"] - 1.0) < 1e-6
    # oracle check vs numpy
    sims = {}
    v0 = np.array(vecs[0][1])
    for i, v in vecs[1:]:
        v = np.array(v)
        sims[i] = float(v0 @ v / (np.linalg.norm(v0) * np.linalg.norm(v)))
    want = sorted(sims, key=lambda i: (-round(sims[i], 6), i))[:3]
    assert [r["neighbor_id"] for r in out] == want


def test_lsh_topk_recall(spark):
    rng = np.random.default_rng(1)
    base = rng.standard_normal((20, 16))
    vecs = []
    for i in range(200):
        v = base[i % 20] + 0.05 * rng.standard_normal(16)  # 20 tight clusters
        vecs.append((i, v.tolist()))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    probes = df.filter(F.col("vec_id") < 3)
    exact = SIM.brute_force_topk(df, probes, k=5).collect()
    approx = SIM.lsh_topk(df, probes, dim=16, k=5, bits=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    # same-cluster neighbors share all hyperplane signs with high prob.
    recall = sum(
        len(exact_sets[p] & approx_sets.get(p, set())) / len(exact_sets[p])
        for p in exact_sets
    ) / len(exact_sets)
    assert recall >= 0.5


def test_text_functions(spark):
    df = spark.createDataFrame(
        [(1, "the quick fox!! on a log."), (2, ""), (3, "一二三 漢字 text")],
        "id long, text string",
    )
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            TX.token_count("text").alias("n"),
            TX.punct_ratio("text").alias("p"),
            TX.stopword_ratio("text").alias("s"),
            TX.lang_guess("text").alias("lg"),
            TX.fingerprint("text").alias("fp"),
        ).collect()
    }
    assert out[1]["n"] == 6
    assert out[2]["n"] == 0 and out[2]["p"] == 0.0
    assert out[1]["s"] == pytest.approx(3 / 6)
    assert out[3]["lg"] == "zh"
    assert len(out[1]["fp"]) == 32


def test_multimodal_feature_plumbing(spark):
    rows = [
        (1, "image", bytearray(b"\x00\x01\x02\x03" * 100), "image/png", 10, 10, None),
        (2, "audio", bytearray(b"\xff" * 64), "audio/wav", None, None, 1000),
        (3, "video", None, "video/mp4", None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in extract_features(media, dim=8).collect()}
    assert out[1]["n_bytes"] == 400 and len(out[1]["feature"]) == 8
    assert abs(sum(out[1]["feature"]) - 1.0) < 1e-5  # normalized histogram
    assert out[3]["feature"] is None and out[3]["sha256"] is None
    # deterministic: same payload → same sha1/features across runs
    out2 = {r["media_id"]: r for r in extract_features(media, dim=8).collect()}
    assert out2[1]["sha256"] == out[1]["sha256"]


def test_dup_clusters_components(spark):
    """Label propagation finds full components: a triangle-free chain and a
    separate pair; cluster_id is the component's min doc id."""
    from sqllog_analysis_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dup_clusters_long_chain_converges(spark):
    """A 12-node path graph needs multiple propagation rounds; the min
    label must still reach the far end."""
    from sqllog_analysis_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "a long, b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(12)}


def test_bucket_ids_udf_path_matches_expression_path(spark):
    """Above the literal-inlining threshold bucket_ids switches to the
    Arrow matmul UDF; both paths must produce identical buckets."""
    import numpy as np
    from pyspark.sql import functions as F

    from sqllog_analysis_spark.operators import similarity as S

    rng = np.random.default_rng(7)
    vecs = [(i, rng.standard_normal(64).tolist()) for i in range(50)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    planes = S.hyperplanes(64, bits=8, seed=3)

    expr = df.select("vec_id", S.bucket_ids("embedding", planes).alias("b"))
    udf = df.select("vec_id", S._bucket_ids_udf(planes)(F.col("embedding")).alias("b"))
    assert sorted(map(tuple, expr.collect())) == sorted(map(tuple, udf.collect()))


def test_lsh_topk_high_bits_uses_constant_size_plan(spark):
    """bits=40 over dim=64 (2560 literals) must not inline the plane matrix
    into the plan; the query still runs and returns ranked neighbors."""
    import numpy as np

    from sqllog_analysis_spark.operators.similarity import lsh_topk

    rng = np.random.default_rng(11)
    vecs = [(i, rng.standard_normal(64).tolist()) for i in range(80)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    probes = df.filter("vec_id < 2")
    out = lsh_topk(df, probes, dim=64, k=3, bits=40)
    rows = out.collect()  # high bits → most buckets singleton; just sanity
    assert all(r["rank"] <= 3 for r in rows)


def test_ivf_topk_full_probe_equals_brute_force(spark):
    """nprobe == n_centroids searches every cell → must reproduce the
    exact brute-force top-k (same rounding, same tie order)."""
    import numpy as np

    from sqllog_analysis_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = np.random.default_rng(5)
    vecs = [(i, rng.standard_normal(32).tolist()) for i in range(60)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    probes = df.filter("vec_id < 4")

    exact = sorted(map(tuple, brute_force_topk(df, probes, k=5).collect()))
    ivf = sorted(
        map(tuple, ivf_topk(df, probes, k=5, n_centroids=4, nprobe=4).collect())
    )
    assert ivf == exact


def test_ivf_topk_partial_probe_recall(spark):
    """nprobe=2 of 8 cells: recall against exact top-5 stays useful and the
    candidate set shrinks (the scale trade IVF exists for)."""
    import numpy as np

    from sqllog_analysis_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = np.random.default_rng(6)
    vecs = [(i, rng.standard_normal(16).tolist()) for i in range(300)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    probes = df.filter("vec_id < 5")

    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in brute_force_topk(df, probes, k=5).collect()
    }
    approx = {
        (r["probe_id"], r["neighbor_id"])
        for r in ivf_topk(df, probes, k=5, n_centroids=8, nprobe=2).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.3


def test_export_file_size_bytes_splits_output(spark, tmp_path):
    """export.file_size_bytes (validated-but-unused in the reference)
    actually rolls files in the graft: many small files, none wildly over
    the cap."""
    import glob
    import os

    from sqllog_analysis_spark.sinks.writers import export_table

    df = spark.range(2000).selectExpr(
        "id", "repeat('x', 100) AS pad"
    ).coalesce(1)
    out = str(tmp_path / "exp")
    export_table(df, "csv", out, file_size_bytes=10_000)
    files = [f for f in glob.glob(os.path.join(out, "*.csv"))]
    assert len(files) > 5  # ~2000 rows × ~105 B ≈ 210 KB / 10 KB cap
    assert max(os.path.getsize(f) for f in files) < 30_000


def test_lsh_topk_multi_probe_improves_recall(spark):
    """Hamming-1 multi-probe recovers neighbors that sit just across one
    hyperplane: recall must be at least as high as single-bucket probing
    and reach a strictly stronger floor on the clustered corpus."""
    rng = np.random.default_rng(1)
    base = rng.standard_normal((20, 16))
    vecs = [
        (i, (base[i % 20] + 0.05 * rng.standard_normal(16)).tolist())
        for i in range(200)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    probes = df.filter(F.col("vec_id") < 3)
    exact = SIM.brute_force_topk(df, probes, k=5).collect()
    want = {}
    for r in exact:
        want.setdefault(r["probe_id"], set()).add(r["neighbor_id"])

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
        return sum(
            len(want[p] & got.get(p, set())) / len(want[p]) for p in want
        ) / len(want)

    single = recall(SIM.lsh_topk(df, probes, dim=16, k=5, bits=4).collect())
    multi = recall(
        SIM.lsh_topk(df, probes, dim=16, k=5, bits=4, multi_probe=1).collect()
    )
    multi2 = recall(
        SIM.lsh_topk(df, probes, dim=16, k=5, bits=4, multi_probe=2).collect()
    )
    assert multi >= single
    assert multi >= 0.8
    # Hamming-2 probing widens the candidate set further: recall is
    # monotone in multi_probe
    assert multi2 >= multi


def test_hash_split_deterministic_and_proportional(spark):
    from sqllog_analysis_spark.operators.sampling import hash_split

    df = spark.range(5000).selectExpr("id AS doc_id", "'x' AS text")
    out = hash_split(df).groupBy("split").count().collect()
    by = {r["split"]: r["count"] for r in out}
    assert set(by) == {"train", "val", "test"}
    # md5 buckets are near-uniform: 90/5/5 within a loose tolerance
    assert 0.85 < by["train"] / 5000 < 0.95
    assert by["train"] + by["val"] + by["test"] == 5000
    # deterministic: same ids → same membership on a re-run
    again = {r["split"]: r["count"] for r in hash_split(df).groupBy("split").count().collect()}
    assert again == by


def test_pack_sequences_bins_are_contiguous_and_complete(spark):
    from sqllog_analysis_spark.operators.sampling import pack_sequences

    rows = [(i, "s0", "tok " * 100) for i in range(10)]  # 100 tokens each
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["bin_id"]: r for r in pack_sequences(df, context_tokens=256).collect()}
    # 100-token docs, 256-token bins: doc starts at 0,100,200,300,... →
    # bins 0:{0,100,200}, 1:{300,400}(starts 300,400), ...
    assert sum(r["n_docs"] for r in out.values()) == 10
    assert sum(r["n_tokens"] for r in out.values()) == 1000
    assert out[0]["n_docs"] == 3  # starts 0, 100, 200 < 256


def test_lsh_near_dup_pairs_recall_and_cap(spark):
    """Whole-corpus LSH self-join: finds most true near-dup pairs on a
    clustered corpus (no broadcast side), and max_bucket drops degenerate
    buckets instead of exploding the join."""
    rng = np.random.default_rng(2)
    base = rng.standard_normal((10, 16))
    vecs = [
        (i, (base[i % 10] + 0.03 * rng.standard_normal(16)).tolist())
        for i in range(100)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {
        (r["a"], r["b"])
        for r in SIM.lsh_near_dup_pairs(df, dim=16, threshold=0.9, bits=4).collect()
    }
    # exact truth: same-cluster pairs sit at cosine ~0.99
    from itertools import combinations

    X = np.array([v for _, v in vecs])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    truth = {
        (a, b)
        for a, b in combinations(range(100), 2)
        if round(float(Xn[a] @ Xn[b]), 6) >= 0.9
    }
    assert got <= truth  # no false positives (exact cosine inside buckets)
    assert len(got) / len(truth) >= 0.5  # sign-LSH recall on tight clusters
    # a tiny max_bucket drops every bucket (10 clusters x 10 members)
    assert (
        SIM.lsh_near_dup_pairs(df, dim=16, threshold=0.9, bits=1, max_bucket=2).count()
        == 0
    )


def test_planted_boilerplate_cluster_collapses_and_caps(spark):
    """The dedup-at-scale shape (BENCH/DATASCALE.md): a planted near-
    identical boilerplate cluster (10% of docs, shared template + one
    per-doc word) must (a) collapse to ONE representative via
    minhash-LSH + connected components when buckets fit the cap, and
    (b) respect the max_bucket degree bound when they don't — per-doc
    pair degree can never exceed bands × (cap - 1), because every
    surviving (band, bucket) holds ≤ cap docs."""
    from sqllog_analysis_spark.operators.dedup import (
        dup_clusters,
        minhash_band_buckets,
        minhash_lsh_pairs,
    )
    from sqllog_analysis_spark.sources.documents import documents_df

    n, frac = 500, 0.1  # 50 boilerplate docs
    df = documents_df(spark, n, seed=42, boilerplate_frac=frac)

    pairs = minhash_lsh_pairs(df, max_bucket=200)
    stats = {}
    clusters = dup_clusters(pairs, stats=stats)
    by_cluster = {}
    for r in clusters.collect():
        by_cluster.setdefault(r["cluster_id"], set()).add(r["doc_id"])
    # every boilerplate doc lands in doc 0's component; representative = 0
    assert by_cluster[0] == set(range(50))
    assert 1 <= stats["rounds"] <= 25

    # with a cap below the boilerplate bucket sizes, buckets get DROPPED:
    cap = 10
    over = (
        minhash_band_buckets(df)
        .groupBy("band", "bucket")
        .count()
        .filter(F.col("count") > cap)
        .count()
    )
    assert over >= 1  # the planted cluster does flood buckets past the cap
    capped = minhash_lsh_pairs(df, max_bucket=cap)
    degrees = (
        capped.select(F.col("a").alias("d"))
        .unionAll(capped.select(F.col("b").alias("d")))
        .groupBy("d")
        .count()
    )
    max_deg = degrees.agg(F.max("count")).first()[0] or 0
    assert max_deg <= 16 * (cap - 1)  # bands × (cap-1): the hard bound
    assert capped.count() < pairs.count()  # capping strictly shrinks pairs


def test_lsh_near_dup_pairs_multi_seed_recall(spark):
    """seeds=k unions k independent plane sets: recall is monotone in
    seeds (1-(1-p)^k per the sign-LSH collision bound), exactness inside
    buckets still forbids false positives, and seeds=1 — the contract
    default — is bit-identical to the single-seed behavior."""
    from itertools import combinations

    rng = np.random.default_rng(7)
    base = rng.standard_normal((12, 16))
    vecs = [
        (i, (base[i % 12] + 0.04 * rng.standard_normal(16)).tolist())
        for i in range(120)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    X = np.array([v for _, v in vecs])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    truth = {
        (a, b)
        for a, b in combinations(range(120), 2)
        if round(float(Xn[a] @ Xn[b]), 6) >= 0.9
    }

    def pairs(seeds):
        return {
            (r["a"], r["b"])
            for r in SIM.lsh_near_dup_pairs(
                df, dim=16, threshold=0.9, bits=6, seeds=seeds
            ).collect()
        }

    p1, p2, p3 = pairs(1), pairs(2), pairs(3)
    assert p1 <= p2 <= p3 <= truth  # union only ADDS candidates; still exact
    assert len(p2) / len(truth) >= len(p1) / len(truth)
    assert len(p3) > len(p1)  # at bits=6 one plane set misses some pairs
    # default seeds=1 leaves the contract query unchanged
    assert {
        (r["a"], r["b"])
        for r in SIM.lsh_near_dup_pairs(df, dim=16, threshold=0.9, bits=6).collect()
    } == p1
    with pytest.raises(ValueError, match="seeds"):
        SIM.lsh_near_dup_pairs(df, dim=16, seeds=0)


def test_simhash_near_dup_pairs(docs):
    rows = {
        (r["a"], r["b"]): r["hamming"]
        for r in DD.simhash_near_dup_pairs(
            docs, bands=16, hamming=12, max_bucket=100
        ).collect()
    }
    assert rows[(0, 1)] == 0  # exact dups: identical signatures
    assert (0, 2) in rows and 0 < rows[(0, 2)] <= 12  # near-dup: few flips
    assert not any(3 in p for p in rows)  # unrelated doc stays unpaired
    # oracle cross-check: banding recall is total at radius < bands only
    # for pairs the brute-force Hamming filter admits
    sigs = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs).collect()}
    for (a, b), h in rows.items():
        assert bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") == h

    with pytest.raises(ValueError, match="hamming < bands"):
        DD.simhash_near_dup_pairs(docs, bands=4, hamming=4)
    with pytest.raises(ValueError, match="divide"):
        DD.simhash_near_dup_pairs(docs, bits=64, bands=5)


def test_simhash_near_dup_pairs_bucket_cap(spark):
    # 30 empty docs all hash to signature 0: without the cap that bucket
    # alone yields C(30,2)=435 pairs; a cap below 30 must drop it entirely
    empt = spark.createDataFrame(
        [(i, "") for i in range(30)] + [(100, "regular text here")],
        "doc_id long, text string",
    )
    assert DD.simhash_near_dup_pairs(empt, max_bucket=10).count() == 0
    assert DD.simhash_near_dup_pairs(empt, max_bucket=64).count() == 435


def test_simhash_banding_full_recall_vs_brute_force(spark):
    """Pigeonhole guarantee as a property: with hamming < bands and no
    bucket cap, the banded self-join finds EXACTLY the pairs brute-force
    popcount admits at the radius — banding may never lose a pair."""
    import random

    rng = random.Random(7)
    words = [f"w{i}" for i in range(50)]
    rows = []
    for i in range(60):
        base = rng.sample(words, 12)
        rows.append((i, " ".join(base)))
        if i % 3 == 0:  # planted near-dup: one word swapped
            mut = list(base)
            mut[rng.randrange(12)] = rng.choice(words)
            rows.append((1000 + i, " ".join(mut)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    radius, bands = 12, 16
    got = {
        (r["a"], r["b"])
        for r in DD.simhash_near_dup_pairs(
            df, bands=bands, hamming=radius, max_bucket=10**6
        ).collect()
    }
    sigs = {r["doc_id"]: r["simhash"] for r in DD.simhash(df).collect()}
    ids = sorted(sigs)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= radius
    }
    assert got == want and len(want) > 0


def test_minhash_incremental_matches_full(spark, tmp_path):
    """Incremental dedup exactness: pairs(increment vs index) == pairs of
    a FULL run over (old ∪ new) restricted to pairs touching a new doc —
    including the bucket cap, which must bind on the union."""
    tmpl = "shared boilerplate sentence repeated almost verbatim here "
    old_rows = [(i, tmpl + f"tail{i % 4}") for i in range(8)] + [
        (50, "an old document that will get a duplicate in the increment"),
        (51, "old text entirely unrelated to everything else in the corpus"),
    ]
    new_rows = [
        (100, tmpl + "tail0"),   # joins the boilerplate group
        (101, tmpl + "tail1"),
        (102, "an old document that will get a duplicate in the increment"),
        (103, "a brand new unique document with fresh content and words"),
    ]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    both = old.unionByName(new)
    params = dict(n_hashes=16, bands=8, shingle_k=3)

    idx = str(tmp_path / "mh_index")
    DD.write_minhash_index(old, idx, **params)

    for cap in (200, 9):  # 9: the boilerplate bucket (10 docs) only
        # exceeds the cap on the UNION — old alone fits
        inc = {
            (r["a"], r["b"]): (r["a_is_new"], r["b_is_new"])
            for r in DD.minhash_lsh_pairs_incremental(
                new, idx, max_bucket=cap
            ).collect()
        }
        full = {
            (r["a"], r["b"])
            for r in DD.minhash_lsh_pairs(both, max_bucket=cap, **params).collect()
        }
        new_ids = {r[0] for r in new_rows}
        want = {p for p in full if p[0] in new_ids or p[1] in new_ids}
        assert set(inc) == want and len(want) > 0
        for (a, b), (an, bn) in inc.items():
            assert an == (a in new_ids) and bn == (b in new_ids)
    # the old-old boilerplate pairs exist in the full run but must never
    # be recomputed by the incremental path
    assert any(a < 100 and b < 100 for a, b in full)

    # appending the increment's buckets grows the index; params mismatch is loud
    DD.write_minhash_index(new, idx, mode="append", **params)
    assert spark.read.parquet(idx).select("doc_id").distinct().count() == 14
    with pytest.raises(ValueError, match="built with"):
        DD.write_minhash_index(new, idx, mode="append", n_hashes=32, bands=8,
                               shingle_k=3)


def test_dup_clusters_incremental_matches_full(spark, tmp_path):
    """Union-find merge exactness: incremental clustering (old star edges
    ∪ new-touching pairs) == full CC over ALL pairs, for every doc the
    merged graph touches — including an old cluster relabeled by a
    smaller-id bridge and two old clusters merged through a new doc."""
    # old graph: {10,11,12} cluster 10; {20,21} cluster 20; 30 singleton
    old_pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21)], "a long, b long"
    )
    old_clusters = DD.dup_clusters(old_pairs)
    # increment: 5 bridges into cluster 10 (new min-id rep), 100 merges
    # clusters 10 and 20 transitively, 200-201 form a brand-new cluster
    new_pairs = spark.createDataFrame(
        [(5, 12), (100, 11), (100, 21), (200, 201)], "a long, b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in DD.dup_clusters_incremental(new_pairs, old_clusters).collect()
    }
    want = {
        r["doc_id"]: r["cluster_id"]
        for r in DD.dup_clusters(old_pairs.unionByName(new_pairs)).collect()
    }
    assert got == want
    assert got[12] == 5 and got[21] == 5 and got[100] == 5  # merged + relabeled
    assert got[200] == 200 and got[201] == 200
    assert 30 not in got  # untouched singleton never enters


# ---------------------------------------------------------------------------
# Corpus-curation operators (operators/corpus.py)
# ---------------------------------------------------------------------------

_LOREM = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliett "
    "kilo lima mike november oscar papa quebec romeo sierra tango"
)


def test_decontaminate_flags_13gram_overlap(spark):
    from sqllog_analysis_spark.operators import corpus as CP

    # train doc 1 contains the eval doc's full 20-word text (so every one
    # of its 13-grams); train doc 2 shares nothing
    train = spark.createDataFrame(
        [
            (1, "intro words " + _LOREM + " closing words"),
            (2, "totally unrelated content " * 10),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, _LOREM)], "doc_id long, text string")
    out = {r["doc_id"]: r["n_hits"] for r in CP.decontaminate(train, ev).collect()}
    # eval doc has 20 words → 8 distinct 13-grams, all present in doc 1
    assert out == {1: 8}


def test_decontaminate_short_eval_doc_is_exact_match_only(spark):
    from sqllog_analysis_spark.operators import corpus as CP

    train = spark.createDataFrame(
        [(1, "short eval text"), (2, "short eval text plus extra words")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(9, "short eval text")], "doc_id long, text string")
    out = {r["doc_id"]: r["n_hits"] for r in CP.decontaminate(train, ev).collect()}
    # <13-word eval doc degrades to its whole text as one shingle; only
    # the train doc that is itself <13 words with identical text matches
    assert out == {1: 1}


def test_repetition_metrics_and_filter(spark):
    from sqllog_analysis_spark.operators import corpus as CP

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam"),
            (2, _LOREM),
            (3, "one"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in CP.repetition_filter(docs).collect()}
    # all-same-word doc: 7/8 duplicate words, every 2-gram identical
    assert rows[1]["dup_word_frac"] == 0.875
    assert rows[1]["top_2gram_frac"] == 1.0
    assert rows[1]["dup_3gram_frac"] == 1.0
    assert rows[1]["keep"] is False
    # all-distinct doc: zero repetition, kept
    assert rows[2]["dup_word_frac"] == 0.0
    assert rows[2]["top_2gram_frac"] < 0.2
    assert rows[2]["keep"] is True
    # degenerate docs: no gram evidence → zeros, kept
    for d in (3, 4):
        assert rows[d]["top_2gram_frac"] == 0.0
        assert rows[d]["dup_3gram_frac"] == 0.0
        assert rows[d]["keep"] is True


def test_stratified_sample_temperature_and_determinism(spark):
    from sqllog_analysis_spark.operators import corpus as CP

    # skewed strata: 160 docs in 'big', 20 in 'small'
    rows = [(i, "big") for i in range(160)] + [(1000 + i, "small") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = CP.stratified_sample(df, "src", alpha=0.5, target_frac=0.5, id_col="doc_id")
    got = [(r["stratum"], r["doc_id"]) for r in out.collect()]
    by_stratum = {}
    for s, d in got:
        by_stratum.setdefault(s, set()).add(d)
    # alpha<1 up-weights the small stratum: its sampled FRACTION must
    # exceed the big stratum's
    frac_small = len(by_stratum["small"]) / 20
    frac_big = len(by_stratum["big"]) / 160
    assert frac_small > frac_big
    # overall take is in the neighborhood of target_frac
    assert 0.3 <= len(got) / 180 <= 0.7
    # deterministic: a second run yields the identical id set
    again = [(r["stratum"], r["doc_id"]) for r in out.collect()]
    assert sorted(again) == sorted(got)


def test_passage_stats_cross_doc(spark):
    from sqllog_analysis_spark.operators import corpus as CP

    shared = _LOREM  # 20 words → passages [w1..w10], [w11..w20]
    docs = spark.createDataFrame(
        [
            (1, shared + " tail one two three four five six seven eight nine"),
            (2, shared),
            (3, "entirely different words " * 5),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in CP.passage_stats(docs).collect()}
    # docs 1 and 2 share both 10-token passages of `shared`; doc 3 shares none
    assert set(rows) == {1, 2}
    assert rows[1]["n_passages"] == 3 and rows[1]["n_dup_passages"] == 2
    assert rows[2]["n_passages"] == 2 and rows[2]["n_dup_passages"] == 2


def test_chunk_documents_windows_and_edges(spark):
    from sqllog_analysis_spark.operators import corpus as CP

    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    docs = spark.createDataFrame(
        [(1, words), (2, "one two"), (3, "   "), (4, "solo")],
        "doc_id long, text string",
    )
    out = CP.chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # stride 3 over 10 tokens → starts 0,3,6 (start 9 would add no new
    # token — 'w9' is already inside the chunk starting at 6 — so it is
    # suppressed rather than emitted as a duplicate passage)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [r.chunk_idx for r in c1] == [0, 1, 2]
    assert c1[0].chunk_text == "w0 w1 w2 w3"
    assert c1[1].chunk_text == "w3 w4 w5 w6"
    assert c1[2].chunk_text == "w6 w7 w8 w9" and c1[2].n_chunk_tokens == 4
    # overlap invariant: consecutive chunks share exactly `overlap` tokens
    assert c1[0].chunk_text.split()[-1:] == c1[1].chunk_text.split()[:1]
    assert by_doc[2][0].chunk_text == "one two"
    assert 3 not in by_doc  # whitespace-only doc yields no chunks
    assert by_doc[4][0].n_chunk_tokens == 1


def test_quota_sample_caps_and_is_deterministic(spark):
    from sqllog_analysis_spark.operators import corpus as CP

    rows = [(i, "big" if i < 400 else "small") for i in range(420)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = CP.quota_sample(df, group_col="source", cap=25)
    per = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per["big"] == 25          # capped
    assert per["small"] == 20        # under cap → kept whole
    # deterministic: same kept set on re-run
    ids1 = sorted(r.doc_id for r in out.collect())
    ids2 = sorted(r.doc_id for r in CP.quota_sample(df, group_col="source", cap=25).collect())
    assert ids1 == ids2


def test_tfidf_top_terms_ranks_rare_terms_higher(spark):
    from sqllog_analysis_spark.operators import corpus as CP

    docs = spark.createDataFrame(
        [
            (1, "common rare-alpha rare-alpha"),
            (2, "common filler filler"),
            (3, "common filler other"),
        ],
        "doc_id long, text string",
    )
    out = CP.tfidf_top_terms(docs, top_k=2)
    top1 = {r.doc_id: r.term for r in out.filter(F.col("rank") == 1).collect()}
    # tf=2 'rare-alpha' (df 1) scores 2·(ln(4/2)+1) ≈ 3.39, beating
    # tf=1 'common' (df 3, score 2·(ln(4/4)+1)/2 = 1.0) for doc 1
    assert top1[1] == "rare-alpha"
    # doc 2: tf=2 'filler' (df 2) beats tf=1 'common' (df 3)
    assert top1[2] == "filler"
    r1 = out.filter((F.col("doc_id") == 1) & (F.col("rank") == 1)).first()
    assert r1.df_docs == 1 and r1.tf == 2


def _asof_fixture(spark):
    from datetime import datetime as DT

    left = spark.createDataFrame(
        [
            (1, "u", DT(2025, 1, 1, 0, 0, 10)),
            (2, "u", DT(2025, 1, 1, 0, 0, 20)),
            (3, "u", DT(2025, 1, 1, 0, 0, 5)),
            (4, "v", DT(2025, 1, 1, 0, 0, 30)),
        ],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u", DT(2025, 1, 1, 0, 0, 10), 100),  # exact tie with event 1
            ("u", DT(2025, 1, 1, 0, 0, 18), 200),
            ("v", DT(2025, 1, 1, 0, 0, 40), 300),
        ],
        "user_id string, ts timestamp, ref long",
    )
    return left, right


def test_asof_join_backward_exact_tie_and_miss(spark):
    from sqllog_analysis_spark.operators.asof import asof_join

    left, right = _asof_fixture(spark)
    out = {r.event_id: r.ref for r in asof_join(left, right, on="user_id").collect()}
    assert out[1] == 100   # tie at :10 matches (>= semantics)
    assert out[2] == 200   # most recent ≤ :20 is :18
    assert out[3] is None  # :5 precedes all right rows
    assert out[4] is None  # v's only right row is later


def test_asof_join_forward_and_tolerance(spark):
    from sqllog_analysis_spark.operators.asof import asof_join

    left, right = _asof_fixture(spark)
    fwd = {r.event_id: r.ref
           for r in asof_join(left, right, on="user_id", direction="forward").collect()}
    assert fwd == {1: 100, 2: None, 3: 100, 4: 300}
    tol = {r.event_id: r.ref
           for r in asof_join(left, right, on="user_id", tolerance_seconds=3).collect()}
    assert tol == {1: 100, 2: 200, 3: None, 4: None}  # :18→:20 within 3 s


def test_asof_join_dedupe_right_keeps_greatest_payload(spark):
    from datetime import datetime as DT

    from sqllog_analysis_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u", DT(2025, 1, 1, 0, 1, 0))], "event_id long, user_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u", DT(2025, 1, 1, 0, 0, 0), 5), ("u", DT(2025, 1, 1, 0, 0, 0), 9)],
        "user_id string, ts timestamp, ref long",
    )
    out = asof_join(left, right, on="user_id", dedupe_right=True).collect()
    assert out[0].ref == 9


def test_interval_join_boundaries_overlap_and_bucket_spanning(spark):
    from datetime import datetime as DT

    from sqllog_analysis_spark.operators.rangejoin import interval_join

    left = spark.createDataFrame(
        [
            (1, "u", DT(2025, 1, 1, 0, 0, 0)),    # == start (inclusive)
            (2, "u", DT(2025, 1, 1, 0, 10, 0)),   # == end (inclusive)
            (3, "u", DT(2025, 1, 1, 0, 10, 1)),   # 1 s past win 10's end
            (4, "u", DT(2025, 1, 1, 2, 0, 0)),    # inside the long window only
            (5, "w", DT(2025, 1, 1, 0, 5, 0)),    # wrong key
        ],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u", 10, DT(2025, 1, 1, 0, 0, 0), DT(2025, 1, 1, 0, 10, 0)),
            # long window spans MANY 60 s buckets and overlaps the first
            ("u", 20, DT(2025, 1, 1, 0, 5, 0), DT(2025, 1, 1, 3, 0, 0)),
        ],
        "user_id string, win_id long, start_ts timestamp, end_ts timestamp",
    )
    out = interval_join(left, right, on="user_id", bucket_seconds=60)
    got = sorted((r.event_id, r.win_id) for r in out.collect())
    assert got == [(1, 10), (2, 10), (2, 20), (3, 20), (4, 20)]


def test_interval_join_rejects_column_collision(spark):
    from datetime import datetime as DT

    from sqllog_analysis_spark.operators.rangejoin import interval_join

    left = spark.createDataFrame(
        [(1, "u", DT(2025, 1, 1))], "event_id long, user_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u", 1, DT(2025, 1, 1), DT(2025, 1, 2))],
        "user_id string, event_id long, start_ts timestamp, end_ts timestamp",
    )
    with pytest.raises(ValueError, match="collide"):
        interval_join(left, right, on="user_id")


def test_py_shingles_matches_spark_expression(spark):
    """Parity pin for the r6 Arrow-vectorized md5 flavor: the Python
    tokenizer/shingler (dedup._py_shingles) must reproduce the Spark
    expression (dedup._shingles) byte-for-byte on every whitespace and
    edge shape — trim-of-0x20-only, Java ASCII \\s split with kept
    leading/trailing empties, under-k collapse, NULL text."""
    cases = [
        "plain three token text here",
        "  leading and trailing  ",
        "tab\tsep\ttokens",
        "newline\nsep\ntokens",
        "cr\rsep\rtokens",
        "mixed \t\r\n   runs",
        "\tstarts with tab",
        "ends with tab\t",
        " nbsp is not java ws ",  # NBSP must stay inside tokens
        "UPPER Case MiXeD",
        "one two",  # under k=3
        "single",
        " ",
        "",
        None,
        "punct, tokens; here! (kept)",
        "\x0b vertical \x0c formfeed \x0b",
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i long, text string")
    for k in (3, 13):
        sp = {
            r["i"]: r["s"]
            for r in df.select("i", DD._shingles("text", k).alias("s")).collect()
        }
        for i, c in enumerate(cases):
            assert sp[i] == DD._py_shingles(c, k), (k, c)


def test_minhash_md5_arrow_matches_jvm_expression(docs):
    """The Arrow md5 signature path must be bit-identical to the original
    JVM expression chain (which the DuckDB oracle replays)."""
    from pyspark.sql import functions as F

    jvm_base, per_seed = DD._minhash_hasher("md5")
    pre = docs.select(
        F.col("doc_id"), F.transform(DD._shingles("text", 3), jvm_base).alias("_s")
    )
    sigs = [
        F.array_min(F.transform(F.col("_s"), per_seed(i))).alias(f"h{i}")
        for i in range(8)
    ]
    jvm = {r["doc_id"]: tuple(r[f"h{i}"] for i in range(8))
           for r in pre.select("doc_id", *sigs).collect()}
    arrow = {r["doc_id"]: tuple(r[f"h{i}"] for i in range(8))
             for r in DD.minhash_signatures(docs, n_hashes=8, shingle_k=3, hash_fn="md5").collect()}
    assert jvm == arrow


def test_lsh_near_dup_numpy_matches_join(spark):
    """r6 pin: the Arrow-batched per-bucket pair stage must reproduce the
    bucket-self-join formulation exactly — same candidate buckets, same
    bucket cap, bit-identical cosines (the numpy folds run in zip_with
    order; rounding and thresholding stay JVM-side)."""
    import numpy as np
    from pyspark.sql import Window

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    # reference: the pre-r6 join formulation (norms per pair, as shipped r5)
    planes = SIM.hyperplanes(64, 6, 42)
    v = emb.select(
        F.lit(0).alias("ls"),
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        SIM.bucket_ids("embedding", planes).alias("bucket"),
    )
    w = Window.partitionBy("ls", "bucket")
    small = v.withColumn("_c", F.count("*").over(w)).filter(F.col("_c") <= 50).drop("_c")
    a = small.select("ls", "bucket", F.col("id").alias("a"), F.col("v").alias("va"))
    b = small.select("ls", "bucket", F.col("id").alias("b"), F.col("v").alias("vb"))
    ref = (
        a.join(b, ["ls", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "cosine", F.round(SIM.cosine_col(F.col("va"), F.col("vb")), 6)
        )
        .filter(F.col("cosine") >= 0.2)
        .select("a", "b", "cosine")
        .distinct()
    )
    got = SIM.lsh_near_dup_pairs(
        emb, dim=64, threshold=0.2, bits=6, seed=42, max_bucket=50
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
    # multi-seed recall property still holds on the new path
    one = SIM.lsh_near_dup_pairs(emb, dim=64, threshold=0.2, bits=6, seed=42,
                                 max_bucket=50, seeds=1).count()
    two = SIM.lsh_near_dup_pairs(emb, dim=64, threshold=0.2, bits=6, seed=42,
                                 max_bucket=50, seeds=2).count()
    assert two >= one


def test_winnow_fingerprints_matches_substring_reference(spark):
    """The r6 char-array winnowing (split-per-code-point + bound arrays,
    O(n·k)) must equal the original substring/array_min formulation —
    kept here as the executable spec — on adversarial text: NULL, empty,
    short-of-k, whitespace runs, Unicode incl. astral-plane surrogate
    pairs, and long repetitive text."""
    from functools import reduce

    from pyspark.sql import functions as F

    from sqllog_analysis_spark.functions.text import winnow_fingerprints

    k, w, hash_len = 5, 4, 16

    def reference(col):
        t = F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")
        n = F.length(t)
        gram_idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        grams = F.transform(
            gram_idx,
            lambda i: F.substring(F.md5(F.substring(t, i, k)), 1, hash_len),
        )
        n_g = F.size(grams)
        win_idx = F.sequence(F.lit(1), F.greatest(n_g - (w - 1), F.lit(1)))
        mins = F.transform(win_idx, lambda j: F.array_min(F.slice(grams, j, w)))
        return F.array_sort(F.array_distinct(mins))

    cases = [
        None, "", " ", "a", "ab", "abcd", "abcde", "abcdef",
        "hello world this is a normal sentence",
        "  leading and trailing   ",
        "tab\tand\nnewline mix",
        "unicode: café naïve 中文字符",
        "emoji \U0001F600\U0001F680 pair test \U0001F600x",
        "a" * 300,
        ("xyz " * 100).strip(),
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "id long, text string"
    )
    got = {
        r["id"]: r["fp"]
        for r in df.select(
            "id", winnow_fingerprints("text", k=k, w=w, hash_len=hash_len).alias("fp")
        ).collect()
    }
    want = {
        r["id"]: r["fp"]
        for r in df.select("id", reference("text").alias("fp")).collect()
    }
    assert got == want
