"""Similarity search: brute-force top-k vs numpy oracle; LSH recall."""

from __future__ import annotations

import re

import numpy as np
import pytest

from turboxsl_spark.operators.similarity import brute_force_topk, lsh_topk


@pytest.fixture(scope="module")
def vectors():
    rng = np.random.default_rng(17)
    dim, n_clusters, per = 32, 8, 30
    centers = rng.standard_normal((n_clusters, dim)) * 3
    vecs = []
    for ci in range(n_clusters):
        vecs.append(centers[ci] + rng.standard_normal((per, dim)) * 0.3)
    arr = np.vstack(vecs).astype(np.float32)
    return arr


@pytest.fixture(scope="module")
def corpus(spark, vectors):
    rows = [(i, vectors[i].tolist()) for i in range(len(vectors))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def _numpy_topk(vectors, q_idx, k):
    q = vectors[q_idx].astype(np.float64)
    m = vectors.astype(np.float64)
    sims = m @ q / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    order = np.lexsort((np.arange(len(m)), -sims))
    return [i for i in order if i != q_idx][:k]


def test_brute_force_matches_numpy(spark, corpus, vectors):
    queries = corpus.where("vec_id IN (0, 35, 111)").selectExpr(
        "vec_id AS q_id", "embedding"
    )
    got = brute_force_topk(
        corpus.where("vec_id NOT IN (0, 35, 111)"), queries, k=5
    ).toPandas()
    for q in (0, 35, 111):
        want = [i for i in _numpy_topk(vectors, q, 8) if i not in (0, 35, 111)][:5]
        mine = got[got.q_id == q].sort_values("rank")["vec_id"].tolist()
        assert mine == want, f"query {q}: {mine} != {want}"


def test_ivf_topk_recall_beats_probe_fraction(spark, corpus, vectors):
    """Clustered corpus: IVF with nprobe=3/16 lists must recover most
    of the true top-5 (trained centroids align with the real clusters,
    so a query's own cluster is almost always probed)."""
    from turboxsl_spark.operators.similarity import ivf_topk

    queries = corpus.where("vec_id IN (10, 70, 130)").selectExpr(
        "vec_id AS q_id", "embedding"
    )
    approx = ivf_topk(
        corpus, queries, k=5, n_centroids=16, nprobe=3, sample_size=240, seed=7
    ).toPandas()
    hits = total = 0
    for q in (10, 70, 130):
        true = set(_numpy_topk(vectors, q, 6)[:5])
        got = set(approx[approx.q_id == q]["vec_id"]) - {q}
        hits += len(true & got)
        total += 5
    assert hits / total >= 0.8, f"recall {hits}/{total}"


def test_embedding_near_dup_banded_recall(spark):
    """Planted near-dup pairs (cos ≥ 0.95) among random noise: the
    banded 16-bit LSH must recover ≥0.9 of them (theory: per-bit match
    p≈0.9 at cos .95 → 1-(1-p^4)^4 ≈ 0.99), with zero false positives
    (exact cosine verify)."""
    from turboxsl_spark.operators.dedup import embedding_near_dup_pairs

    rng = np.random.default_rng(23)
    dim, n_noise, n_pairs = 64, 400, 25
    rows = []
    truth = set()
    for i in range(n_noise):
        rows.append((i, rng.standard_normal(dim).astype(np.float32).tolist()))
    nid = n_noise
    for _ in range(n_pairs):
        v = rng.standard_normal(dim)
        v /= np.linalg.norm(v)
        # tiny perturbation → cosine well above 0.95
        w = v + rng.standard_normal(dim) * 0.02
        rows.append((nid, v.astype(np.float32).tolist()))
        rows.append((nid + 1, w.astype(np.float32).tolist()))
        truth.add((nid, nid + 1))
        nid += 2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = embedding_near_dup_pairs(
        df, threshold=0.95, nbits=16, bands=4, dim=dim
    ).toPandas()
    got_pairs = set(zip(got["id_a"], got["id_b"]))
    recall = len(got_pairs & truth) / len(truth)
    assert recall >= 0.9, f"recall {recall}: {sorted(truth - got_pairs)}"
    # exact verify stage: nothing below the threshold leaks through
    assert (got["cos_sim"] >= 0.95).all()
    # noise-noise pairs are never near-dups at dim 64
    assert all(a >= n_noise and b >= n_noise for a, b in got_pairs)


def test_embedding_near_dup_bucket_cap_bounds_fanout(spark):
    """A degenerate all-identical region must not quadratically explode:
    with max_bucket below the clump size the clump is excluded (the
    documented recall-for-boundedness trade)."""
    from turboxsl_spark.operators.dedup import embedding_near_dup_pairs

    v = [1.0] * 16
    rows = [(i, v) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embedding_near_dup_pairs(
        df, threshold=0.9, nbits=8, bands=4, dim=16, max_bucket=10
    )
    assert out.count() == 0


def test_lsh_topk_recall(spark, corpus, vectors):
    """Clustered data: LSH with multiprobe must recover most of the true
    top-5 (same-cluster points agree on most hyperplane signs)."""
    queries = corpus.where("vec_id IN (10, 70, 130)").selectExpr(
        "vec_id AS q_id", "embedding"
    )
    approx = lsh_topk(
        corpus, queries, k=5, nbits=8, dim=32, multiprobe=1
    ).toPandas()
    hits = total = 0
    for q in (10, 70, 130):
        true = set(_numpy_topk(vectors, q, 6)[:5])
        got = set(approx[approx.q_id == q]["vec_id"]) - {q}
        hits += len(true & got)
        total += 5
    assert hits / total >= 0.6, f"recall {hits}/{total}"


def test_ivf_corpus_assignment_is_jvm_side(spark, corpus, vectors):
    """Both IVF assignments run JVM-side and agree with numpy: the corpus
    list is the argmax of a matmul against the centroids, the query
    lists its top ``nprobe``, and the full ivf_topk plan has zero
    Python nodes."""
    from turboxsl_spark.operators.similarity import (
        _kmeans_centroids,
        ivf_assign,
        ivf_probe_lists,
        ivf_topk,
    )

    vecs = vectors.astype(np.float64)
    cents = _kmeans_centroids(vecs[:200], 16, seed=7)
    sims = vecs @ cents.T

    assigned = corpus.select(
        "vec_id",
        ivf_assign("embedding", cents).alias("lst"),
        ivf_probe_lists("embedding", cents, 3).alias("top"),
    )
    got = assigned.toPandas().sort_values("vec_id")
    assert got["vec_id"].tolist() == list(range(len(vecs)))
    assert got["lst"].tolist() == np.argmax(sims, axis=1).tolist()
    want_top = np.argsort(-sims, axis=1, kind="stable")[:, :3]
    assert [list(t) for t in got["top"]] == want_top.tolist()

    queries = corpus.where("vec_id IN (10, 70)").selectExpr("vec_id AS q_id", "embedding")
    full = ivf_topk(corpus, queries, k=5, n_centroids=16, nprobe=3, sample_size=240)
    fplan = full._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"EvalPython|InPandas|PythonUDF", fplan), fplan[:4000]


def test_width_mismatch_raises_in_lsh_and_near_dup(spark, corpus):
    """The 32-d fixture without ``dim``: the planes are EMB_DIM (64)
    wide, and the bucket raises naming both widths instead of folding a
    NULL dot into no bucket (0 rows, 0 pairs)."""
    from turboxsl_spark.operators.dedup import embedding_near_dup_pairs

    queries = corpus.where("vec_id IN (10, 70)").selectExpr("vec_id AS q_id", "embedding")
    with pytest.raises(Exception, match="embedding width 32 .*width 64"):
        lsh_topk(corpus, queries, k=5, nbits=8).collect()
    with pytest.raises(Exception, match="embedding width 32 .*width 64"):
        embedding_near_dup_pairs(corpus, threshold=0.95).collect()


def test_ivf_width_mismatch_raises(spark, corpus):
    """One 31-d corpus row outside the training head: its assignment
    raises instead of landing silently in list 0."""
    from turboxsl_spark.operators.similarity import ivf_topk

    odd = spark.createDataFrame([(10_000, [0.5] * 31)], "vec_id long, embedding array<float>")
    queries = corpus.where("vec_id IN (10, 70)").selectExpr("vec_id AS q_id", "embedding")
    out = ivf_topk(
        corpus.unionByName(odd), queries, k=5, n_centroids=16, nprobe=3, sample_size=240
    )
    with pytest.raises(Exception, match="embedding width 31 .*width 32"):
        out.collect()
