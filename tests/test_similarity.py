"""Embedding similarity operators: blocked exact near-dup (scale path),
broadcast parity, zero-norm semantics, and LSH ANN recall.

Reference analog for the verify-after-candidates shape:
``warc-hadoop-recordreaders/.../mdx/MDXReduplicatingReducer.java:72-152``
(candidate grouping then exact resolution within the group).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from webarchive_discovery_spark.operators import similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _pairs_set(df):
    return {(r.id_a, r.id_b, r.score) for r in df.collect()}


def test_blocked_construction_is_lazy(spark, emb, monkeypatch):
    """The distributed path must not materialize the vector table on the
    driver at plan-build time (the round-1 scale-killer)."""
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):  # pragma: no cover - should never run
        raise AssertionError("driver-side toPandas during plan construction")

    monkeypatch.setattr(DataFrame, "toPandas", boom)
    monkeypatch.setattr(DataFrame, "collect", boom)
    df = similarity.cosine_near_dup_pairs(emb, threshold=0.35)
    assert df is not None  # constructed without touching the driver


def test_blocked_plan_shape(spark, emb):
    df = similarity.cosine_near_dup_pairs(emb, threshold=0.35, n_blocks=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan  # per-block BLAS verify
    # one shuffle on the block-pair key, nothing broadcast
    assert "BroadcastExchange" not in plan


def test_blocked_matches_broadcast(spark, emb):
    blocked = _pairs_set(similarity.cosine_near_dup_pairs(emb, threshold=0.35, n_blocks=5))
    bcast = _pairs_set(
        similarity.cosine_near_dup_pairs(emb, threshold=0.35, strategy="broadcast")
    )
    assert blocked == bcast
    assert len(blocked) > 0  # threshold chosen to produce matches at sf0.001


def test_blocked_invariant_to_n_blocks(spark, emb):
    a = _pairs_set(similarity.cosine_near_dup_pairs(emb, threshold=0.35, n_blocks=1))
    b = _pairs_set(similarity.cosine_near_dup_pairs(emb, threshold=0.35, n_blocks=7))
    assert a == b


def test_broadcast_guard_raises(spark, emb):
    with pytest.raises(ValueError, match="capped"):
        similarity.cosine_near_dup_pairs(
            emb, threshold=0.35, strategy="broadcast", max_broadcast_rows=3
        )


def test_zero_norm_matches_nothing(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0]),   # exact dup of 1
        (3, [0.0, 0.0]),   # zero vector: must match nothing
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = _pairs_set(similarity.cosine_near_dup_pairs(df, threshold=0.5, n_blocks=2))
    assert got == {(1, 2, 1.0)}


def test_lsh_recall_floor(spark, emb):
    """LSH ANN must reach a measured recall floor vs the exact path
    (multi-probe keeps it usable at tighter bucket widths)."""
    queries = emb.filter(F.col("vec_id") < 20)
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    exact = similarity.cosine_topk(emb, queries, k=5).collect()
    approx = similarity.lsh_cosine_topk(emb, queries, dim=dim, k=5, bits=8).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"recall@5 = {recall:.2f}"


def test_ivf_recall_floor_trained_beats_compute(spark, emb):
    """IVF with a k-means-trained quantizer must reach a recall floor vs the
    exact path while scoring only probed lists."""
    queries = emb.filter(F.col("vec_id") < 20)
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    cents = similarity.ivf_train(emb, dim=dim, n_lists=4, iters=3)
    assert cents.shape == (4, dim)
    np.testing.assert_allclose(np.linalg.norm(cents, axis=1), 1.0, atol=1e-9)
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.cosine_topk(emb, queries, k=5).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_cosine_topk(
            emb, queries, dim=dim, k=5, n_lists=4, n_probe=2, centroids=cents
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall@5 = {recall:.2f}"


def test_ivf_train_matches_numpy_replica_bitwise(spark):
    """Distributed k-means over the bit-exact synthetic training set (the
    ``ann_ivf_trained_topk`` gate's construction: identical {0,1} member
    vectors → integer-sum means, order-independent) agrees with the
    driver-side numpy replica bit-for-bit — the training itself is under
    the oracle, not just the assignment."""
    from webarchive_discovery_spark.plans.gate_queries import (
        _IVF_TRAIN_DIM, _IVF_TRAIN_ITERS, _IVF_TRAIN_LISTS, _IVF_TRAIN_N,
        _IVF_TRAIN_SEED, _ivf_train_patterns, _ivf_train_replica,
    )

    pats = _ivf_train_patterns()
    arrs = [F.array(*[F.lit(float(v)) for v in row]) for row in pats]
    cid = F.col("id") % _IVF_TRAIN_LISTS
    expr = F.when(cid == 0, arrs[0])
    for c in range(1, _IVF_TRAIN_LISTS):
        expr = expr.when(cid == c, arrs[c])
    train = spark.range(_IVF_TRAIN_N).repartition(8).select(expr.alias("embedding"))
    audit: list[int] = []
    cents = similarity.ivf_train(
        train, dim=_IVF_TRAIN_DIM, n_lists=_IVF_TRAIN_LISTS,
        seed=_IVF_TRAIN_SEED, iters=_IVF_TRAIN_ITERS,
        _collect_audit=audit,
    )
    np.testing.assert_array_equal(np.round(cents, 6), _ivf_train_replica())
    # driver-traffic budget: each Lloyd iteration collects at most one
    # (list_id, mean-array) row per list — never lists × dim rows
    assert len(audit) == _IVF_TRAIN_ITERS
    assert all(n <= _IVF_TRAIN_LISTS for n in audit), audit


def test_ivf_untrained_deterministic_and_subset_of_probed(spark, emb):
    """The seed-deterministic quantizer (gate path) yields identical results
    across runs, and full probing (n_probe = n_lists) recovers the exact
    top-k — the IVF lattice degrades gracefully to brute force."""
    queries = emb.filter(F.col("vec_id") < 10)
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    a = similarity.ivf_cosine_topk(emb, queries, dim=dim, k=5, n_lists=8, n_probe=2)
    b = similarity.ivf_cosine_topk(emb, queries, dim=dim, k=5, n_lists=8, n_probe=2)
    ra = [(r.query_id, r.rank, r.neighbor_id) for r in a.orderBy("query_id", "rank").collect()]
    rb = [(r.query_id, r.rank, r.neighbor_id) for r in b.orderBy("query_id", "rank").collect()]
    assert ra == rb
    full = similarity.ivf_cosine_topk(emb, queries, dim=dim, k=5, n_lists=8, n_probe=8)
    exact = similarity.cosine_topk(emb, queries, k=5)
    fs = {(r.query_id, r.rank, r.neighbor_id) for r in full.collect()}
    es = {(r.query_id, r.rank, r.neighbor_id) for r in exact.collect()}
    assert fs == es


def test_grouped_map_kernels_declare_eval_type(spark):
    """The grouped-map kernels of the blocked near-dup path and of
    SemDeDup's within-cluster pairs carry full type hints, so building
    either plan emits no "Cannot infer the eval type" UserWarning."""
    import warnings

    rows = [(i, [float(i % 3 == d) + 0.01 * i for d in range(3)]) for i in range(12)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.eye(3)
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        similarity.cosine_near_dup_pairs(vecs, threshold=0.9, n_blocks=2)
        similarity.semantic_dedup(vecs, cents, threshold=0.9)
