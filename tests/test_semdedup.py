"""Tests for SemDeDup (semdedup.py): deterministic k-means + within-cluster
cosine pruning, verified against a pure-Python/numpy twin on toy data and by
partitioning-independence laws on real testdata embeddings."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest

from web_crawling_prj_spark.operators.semdedup import (
    kmeans,
    kmeans_assign,
    kmeans_seed_centroids,
    semdedup,
)


def _df(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _py_kmeans(vecs, k, iters):
    """Twin of kmeans(): md5-ranked seeding, rounded distances/centroids,
    cluster-id tiebreaks."""
    v = np.array(vecs, dtype=np.float32).astype(np.float64)
    order = sorted(range(len(vecs)), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    cents = [np.round(v[i], 6) for i in order[:k]]

    def assign(cents):
        out = []
        for x in v:
            d = [round(float(np.sum((x - c) * (x - c))), 6) for c in cents]
            out.append(min(range(len(cents)), key=lambda j: (d[j], j)))
        return out

    a = assign(cents)
    for _ in range(iters):
        new = []
        ids = sorted(set(a))
        for cid in ids:
            pts = v[[i for i, c in enumerate(a) if c == cid]]
            new.append(np.round(pts.mean(axis=0), 6))
        # reindex: clusters keep their ids (missing ids drop out)
        cents = new
        idx_map = {j: cid for j, cid in enumerate(ids)}
        a = [idx_map[c] for c in assign(cents)]
    return a


def _cos(x, y):
    nx, ny = math.sqrt(float(np.dot(x, x))), math.sqrt(float(np.dot(y, y)))
    return round(float(np.dot(x, y)) / (nx * ny), 6) if nx * ny > 0 else 0.0


def test_seed_centroids_deterministic_md5_order(spark):
    vecs = [[float(i), 1.0] for i in range(6)]
    got = {
        r.cluster: r.centroid
        for r in kmeans_seed_centroids(_df(spark, vecs), k=3).collect()
    }
    order = sorted(range(6), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    for c in range(3):
        assert got[c] == [float(order[c]), 1.0]


def test_assignment_matches_numpy_twin(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 8).astype(np.float32).tolist()
    df = _df(spark, vecs)
    assigned, _ = kmeans(df, k=4, iters=2)
    got = {r.vec_id: r.cluster for r in assigned.collect()}
    want = _py_kmeans([np.float32(v) for v in vecs], k=4, iters=2)
    assert got == {i: c for i, c in enumerate(want)}


def test_semdedup_drop_rule_matches_bruteforce(spark):
    rng = np.random.RandomState(11)
    base = rng.randn(10, 8).astype(np.float32)
    # plant near-duplicates: 10 bases + 10 slightly-perturbed copies
    dups = base + rng.randn(10, 8).astype(np.float32) * 0.05
    vecs = np.vstack([base, dups]).tolist()
    out = semdedup(_df(spark, vecs), k=3, iters=2, tau=0.9).collect()
    got = {r.vec_id: (r.cluster, r.centroid_sim, r.keep) for r in out}
    assert len(got) == 20

    # brute-force twin of the drop rule on the Spark-computed clustering
    v = np.array(vecs)
    bycluster: dict[int, list[int]] = {}
    for i, (c, _, _) in sorted(got.items()):
        bycluster.setdefault(c, []).append(i)
    for c, members in bycluster.items():
        prio = sorted(members, key=lambda i: (got[i][1], i))
        for pos, i in enumerate(prio):
            dominated = any(
                _cos(v[j], v[i]) >= 0.9 for j in prio[:pos]
            )
            assert got[i][2] == (not dominated), f"vec {i} in cluster {c}"
    # the planted copies must actually cause drops
    assert sum(1 for _, (_, _, keep) in got.items() if not keep) >= 5


def test_semdedup_deterministic_under_partitioning(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = semdedup(e, k=4, iters=2, tau=0.4).collect()
    b = semdedup(e.repartition(13), k=4, iters=2, tau=0.4).collect()
    key = lambda r: (r.vec_id, r.cluster, r.centroid_sim, r.keep)
    assert sorted(map(key, a)) == sorted(map(key, b))
    assert len(a) == e.count()


def test_kmeans_assign_is_nearest(spark):
    vecs = [[0.0, 0.0], [10.0, 10.0], [0.1, 0.0], [9.9, 10.0]]
    df = _df(spark, vecs)
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])], "cluster int, centroid array<double>"
    )
    got = {r.vec_id: r.cluster for r in kmeans_assign(df, cents).collect()}
    assert got == {0: 0, 1: 1, 2: 0, 3: 1}


def test_assignment_tiers_equal_and_shuffle_free(spark):
    """literal ≡ pandas assignment on real embeddings; the literal tier's
    plan contains no Exchange (pure map-side projection)."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = kmeans_seed_centroids(e, k=6)
    lit = kmeans_assign(e, cents, strategy="literal")
    pdu = kmeans_assign(e, cents, strategy="pandas")
    got_l = sorted((r.vec_id, r.cluster) for r in lit.collect())
    got_p = sorted((r.vec_id, r.cluster) for r in pdu.collect())
    assert got_l == got_p
    plan = lit._sc._jvm.PythonSQLUtils.explainString(
        lit._jdf.queryExecution(), "simple"
    )
    assert "Exchange" not in plan and "Join" not in plan
