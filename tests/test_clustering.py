"""Deterministic fixed-point k-means + SemDeDup (operators/clustering.py).

The claims under test: (1) assignments are partitioning-independent —
the whole point of integer Lloyd rounds; (2) seeds/centroids follow the
documented md5-rank + floor-mean rules; (3) empty clusters keep their
previous centroid; (4) semantic_dedup keeps the min-id representative of
an identical-vector group and never drops capped mega-cluster rows;
(5) the contract plans stay equi-join-shaped (no cartesian products)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from featherstore_spark.operators.clustering import (
    Q_OFFSET,
    Q_SCALE,
    kmeans_fit_assign,
    semantic_dedup,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_assignments_partitioning_independent(spark):
    """Same clusters whether the corpus arrives in 3 or 11 partitions —
    float k-means fails this (sum order changes the mean); integer
    k-means cannot."""
    emb = _emb(spark)
    a3, c3 = kmeans_fit_assign(emb.repartition(3), k=4, iters=2)
    a11, c11 = kmeans_fit_assign(emb.repartition(11), k=4, iters=2)
    assert c3 == c11
    r3 = sorted(a3.select("vec_id", "cluster_id").collect())
    r11 = sorted(a11.select("vec_id", "cluster_id").collect())
    assert r3 == r11


def test_quantization_and_seed_rule(spark):
    """Quantized values follow floor((x+offset)*scale) exactly, and the
    k seed centroids are the quantized vectors of the k smallest
    (md5_long60('km:42:'||id), id) — recomputed here in pure python."""
    import hashlib

    emb = _emb(spark)
    rows = emb.select("vec_id", "embedding").collect()

    def h(vid: int) -> int:
        return int(hashlib.md5(f"km:42:{vid}".encode()).hexdigest()[:15], 16)

    def quant(v):
        return [int((x + Q_OFFSET) * Q_SCALE // 1) for x in (float(e) for e in v)]

    expect_seeds = [
        quant(r["embedding"]) for r in sorted(rows, key=lambda r: (h(r["vec_id"]), r["vec_id"]))[:3]
    ]
    assigned, _ = kmeans_fit_assign(emb, k=3, iters=0)
    # iters=0 => assignment against the raw seeds themselves
    got = {r["vec_id"]: list(r["qv"]) for r in assigned.select("vec_id", "qv").collect()}
    py = {r["vec_id"]: quant(r["embedding"]) for r in rows}
    assert got == py
    seed_rows = sorted(rows, key=lambda r: (h(r["vec_id"]), r["vec_id"]))[:3]
    by_id = {r["vec_id"]: list(assigned.where(F.col("vec_id") == r["vec_id"]).collect()[0]["qv"]) for r in seed_rows}
    assert [by_id[r["vec_id"]] for r in seed_rows] == expect_seeds


def test_empty_cluster_keeps_previous_centroid(spark):
    """All-identical vectors: every point ties to centroid 0, clusters
    1..k-1 go empty and must keep their (identical) seed centroids —
    the loop must not crash or emit nulls."""
    df = spark.createDataFrame(
        [(i, [0.25] * 8) for i in range(6)], "vec_id: long, embedding: array<float>"
    )
    assigned, cents = kmeans_fit_assign(df, k=3, iters=2, dim=8)
    assert len(cents) == 3 and all(len(c) == 8 for c in cents)
    assert [r["cluster_id"] for r in assigned.collect()] == [0] * 6


def test_semantic_dedup_min_id_representative(spark):
    """Three identical vectors + one far-away vector: the min id of the
    identical group is kept, the other two drop, the loner survives."""
    dup = [0.5] * 8
    far = [-0.5] * 8
    df = spark.createDataFrame(
        [(1, dup), (2, dup), (7, dup), (9, far)],
        "vec_id: long, embedding: array<float>",
    )
    out = semantic_dedup(df, k=2, iters=1, threshold=0.9, dim=8)
    keep = {r["vec_id"]: r["keep"] for r in out.collect()}
    assert keep == {1: True, 2: False, 7: False, 9: True}
    cids = {r["vec_id"]: r["cluster_id"] for r in out.collect()}
    assert cids[1] == cids[2] == cids[7]


def test_semantic_dedup_cap_keeps_capped_rows(spark):
    """A mega-cluster over max_cluster_size is excluded from the pair
    join but its rows stay keep=True (capped != dropped)."""
    dup = [0.5] * 8
    df = spark.createDataFrame(
        [(i, dup) for i in range(10)], "vec_id: long, embedding: array<float>"
    )
    out = semantic_dedup(df, k=2, iters=1, threshold=0.9, dim=8, max_cluster_size=3)
    assert all(r["keep"] for r in out.collect())


def test_contract_plans_are_equi_join_shaped(spark):
    for name in ("kmeans_clusters", "semantic_dedup"):
        df = entry_mod.queries()[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        # the assignment is pure JVM expression work — no Python in plan
        assert "BatchEvalPython" not in plan, name


def test_quantize_contract_enforced(spark):
    """Out-of-range / null / wrong-length vectors fail LOUDLY — silent
    acceptance would break the cross-engine fixed-point contract
    (Python floor-division vs DuckDB truncating division diverge on
    negatives)."""
    for rows in (
        [(1, [-1.5] * 8)],            # below -offset
        [(1, [0.1] * 7)],             # wrong length
        [(1, [0.1] * 7 + [None])],    # null element
    ):
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
        with pytest.raises(Exception, match="fixed-point"):
            kmeans_fit_assign(df, k=1, iters=0, dim=8)[0].collect()


def test_quantize_rejects_null_vector_and_nan(spark):
    """Whole-NULL vectors and NaN elements must raise, not silently
    flow (size(NULL) is NULL, floor(NaN) casts to 0 in non-ANSI mode —
    both would quietly diverge from the oracle)."""
    for rows in (
        [(1, None)],
        [(1, [float("nan")] * 8)],
    ):
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
        with pytest.raises(Exception, match="fixed-point"):
            kmeans_fit_assign(df, k=1, iters=0, dim=8)[0].collect()


def _keep_map(df, **kw):
    return {r["vec_id"]: r["keep"] for r in semantic_dedup(df, k=1, iters=1, dim=8, **kw).collect()}


def test_semantic_dedup_blas_groups_have_headroom(spark, monkeypatch):
    """The BLAS branch sizes its hash groups against HALF the per-task
    pair cap: with groups sized against the full cap, the expected group
    is exactly sqrt(cap) rows and ordinary hash variance pushes some
    block over the cap, failing the job with ValueError."""
    import numpy as np

    import featherstore_spark.operators.clustering as clustering_mod

    rng = np.random.RandomState(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.rand(8)]) for i in range(400)],
        "vec_id long, embedding array<double>",
    )
    monkeypatch.setattr(clustering_mod, "_SEMDEDUP_PAIR_JOIN_MAX", 0)  # force BLAS
    # 400 rows in one cluster: sqrt(cap) = 100 rows per group at full cap
    monkeypatch.setattr(clustering_mod, "_SEMDEDUP_MAX_TASK_PAIRS", 10_000)
    assert len(_keep_map(df, threshold=0.99)) == 400


def test_semantic_dedup_threshold_rounded_for_both_branches(spark, monkeypatch):
    """A threshold with more than 6 decimals is rounded at entry, so the
    plain-join and BLAS branches take the same drop decision on a pair at
    exactly cos = 0.85 (round6 = 0.85 >= round6(0.8500001))."""
    import math

    import featherstore_spark.operators.clustering as clustering_mod

    a = [1.0] + [0.0] * 7
    b = [0.85, math.sqrt(1 - 0.85 * 0.85)] + [0.0] * 6
    c = [0.0, 0.0, 1.0] + [0.0] * 5
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "vec_id long, embedding array<double>")
    join = _keep_map(df, threshold=0.8500001)
    monkeypatch.setattr(clustering_mod, "_SEMDEDUP_PAIR_JOIN_MAX", 0)
    blas = _keep_map(df, threshold=0.8500001)
    assert join == blas == {1: True, 2: False, 3: True}


def test_cos_prenorm_has_no_fixed_dim_path():
    """The unrolled fixed-dim dot is gone: it went NULL whenever ``dim``
    exceeded the vector length, unlike the length-generic HOF fold."""
    import featherstore_spark.operators.similarity as similarity

    assert not hasattr(similarity, "_dot_fixed")
    with pytest.raises(TypeError):
        similarity._cos_prenorm("a", "b", "na", "nb", dim=8)
