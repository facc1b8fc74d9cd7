"""Embedding similarity search (approximate nearest neighbor).

Two tiers, per the scale plan:

- ``cosine_topk`` — brute-force top-k: broadcast the (small) query set,
  JVM-side ``zip_with``/``aggregate`` dot products, per-query top-k via a
  rank window.  O(|Q|·N) but embarrassingly parallel; the right baseline and
  exact.
- ``lsh_cosine_topk`` — random-hyperplane LSH bucketing: candidates only
  join within matching sign-bucket, cutting the candidate set by ~2^bits;
  recall traded for throughput at 100 TB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

__all__ = [
    "cosine",
    "cosine_topk",
    "cosine_near_dup_pairs",
    "lsh_cosine_topk",
    "lsh_planes",
    "ivf_centroids",
    "ivf_train",
    "ivf_cosine_topk",
    "quantize_embeddings",
]


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Int8 scalar quantization of an embedding column — the standard 4×
    storage/bandwidth reduction for vector corpora at 100 TB (store
    ``(scale, int8 vector)``, dequantize as ``q·scale`` on the probe side).

    Per vector: ``scale = max|v| / 127``; ``q_i = floor(v_i/scale + 0.5)``
    (explicit round-half-up so a SQL oracle restates the arithmetic
    bit-for-bit; zero vectors quantize to zeros with scale 0).  Also emits
    ``max_abs_err`` = max dequantization error, bounded by ``scale/2`` by
    construction.  Pure codegen array expressions — no UDF, no shuffle."""
    v = _as_double(F.col(vec_col))
    # materialize scale as a column first so the per-element lambdas below
    # reference a computed value, not a re-evaluated max-reduction
    staged = df.select(
        F.col(id_col),
        v.alias("_v"),
        (F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
         / F.lit(127.0)).alias("scale"),
    )
    scale = F.col("scale")
    q = F.when(
        scale > 0,
        F.transform(F.col("_v"), lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")),
    ).otherwise(F.transform(F.col("_v"), lambda x: F.lit(0)))
    staged = staged.withColumn("qvec", q)
    err = F.when(
        scale > 0,
        F.aggregate(
            F.zip_with(F.col("qvec"), F.col("_v"),
                       lambda qi, xi: F.abs(qi.cast("double") * scale - xi)),
            F.lit(0.0),
            lambda a, b: F.greatest(a, b),
        ),
    ).otherwise(F.lit(0.0))
    return staged.select(
        F.col(id_col), scale, F.col("qvec"), err.alias("max_abs_err")
    )


def cosine(a, b):
    """Cosine similarity of two array<double> columns as a codegen expression
    (sequential fold — deterministic summation order)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    return dot / (na * nb)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``broadcast(queries)`` keeps the join shuffle-free; ranking is a window
    per query ordered by (score desc, neighbor id) so ties are deterministic.
    Self-matches are excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec")
    )
    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("evec")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qvec"), F.col("evec")).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def _l2_normalize(mat: "np.ndarray") -> "np.ndarray":
    """Row-normalize; zero vectors are left as-is (norm treated as 1) so they
    score 0 against everything and match nothing — documented semantics."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    return mat / np.where(norms == 0.0, 1.0, norms)


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
    strategy: str = "blocked",
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (id_a < id_b) with
    cosine ≥ ``threshold``.  Exact — the correctness baseline for the
    near-dup family (reference analog: ssdeep fuzzy-hash near-dup fields,
    ``FuzzyHashAnalyser.java:62-81``; here over the embedding column).

    ``strategy="blocked"`` (default, the distributed path): rows are hashed
    into ``n_blocks`` blocks; each row is exploded to the ``n_blocks``
    unordered block-pairs it belongs to, shuffled on ``(pa, pb)``, and each
    group computes one BLAS block matmul (``A @ B.T``) inside
    ``applyInPandas``.  Every unordered row pair lands in exactly ONE group
    — (blk(x), blk(y)) sorted — so the result is exact with no dedup pass.
    Nothing is materialized on the driver; the plan is fully lazy.  Per-task
    memory is ~2·N/n_blocks vectors: size ``n_blocks`` so a block fits an
    executor (exact all-pairs is inherently O(N²) compute — at true 100 TB
    scale, run LSH candidate generation first and use this as the exact
    verify within candidates).

    ``strategy="broadcast"``: the legacy single-broadcast matmul — the whole
    table is collected, normalized and broadcast, guarded by
    ``max_broadcast_rows`` (raises beyond it).  Only for small tables.

    Scores are float64; only ``round(score, 4)`` is exposed so results are
    parallelism-independent.  Zero-norm vectors match nothing (see
    :func:`_l2_normalize`)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_field = embeddings.schema[id_col]
    out_schema = StructType(
        [
            StructField("id_a", id_field.dataType),
            StructField("id_b", id_field.dataType),
            StructField("score", DoubleType()),
        ]
    )

    if strategy == "broadcast":
        return _near_dup_broadcast(
            embeddings, threshold, id_col, vec_col, out_schema, max_broadcast_rows
        )
    if strategy != "blocked":
        raise ValueError(f"unknown strategy {strategy!r}")

    e = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    # Explode each row to every unordered block-pair containing its block.
    pairs = e.select(
        "_id",
        "_vec",
        "_blk",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_blocks - 1)),
                lambda j: F.struct(
                    F.least(F.col("_blk"), j).alias("pa"),
                    F.greatest(F.col("_blk"), j).alias("pb"),
                ),
            )
        ).alias("_pair"),
    ).select(
        "_id", "_vec", "_blk",
        F.col("_pair.pa").alias("_pa"), F.col("_pair.pb").alias("_pb"),
    )

    def verify(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        a_blk, b_blk = int(key[0]), int(key[1])
        ids = pdf["_id"].to_numpy()
        mat = _l2_normalize(np.vstack(pdf["_vec"].to_numpy()).astype(np.float64))
        if a_blk == b_blk:
            scores = mat @ mat.T
            keep = (scores >= threshold) & (ids[:, None] < ids[None, :])
            ai, bj = np.nonzero(keep)
            id_a, id_b, sc = ids[ai], ids[bj], scores[ai, bj]
        else:
            is_a = (pdf["_blk"].to_numpy() == a_blk)
            a_ids, b_ids = ids[is_a], ids[~is_a]
            scores = mat[is_a] @ mat[~is_a].T
            ai, bj = np.nonzero(scores >= threshold)
            ia, ib = a_ids[ai], b_ids[bj]
            id_a, id_b = np.minimum(ia, ib), np.maximum(ia, ib)
            sc = scores[ai, bj]
        return pd.DataFrame(
            {"id_a": id_a, "id_b": id_b, "score": np.round(sc, 4)}
        )

    return pairs.groupBy("_pa", "_pb").applyInPandas(verify, out_schema)


def _near_dup_broadcast(
    embeddings, threshold, id_col, vec_col, out_schema, max_broadcast_rows
):
    """Single-broadcast exact matmul — small tables only (guarded)."""
    spark = embeddings.sparkSession
    pdf = embeddings.select(id_col, vec_col).limit(max_broadcast_rows + 1).toPandas()
    if len(pdf) > max_broadcast_rows:
        raise ValueError(
            f"broadcast strategy capped at {max_broadcast_rows} rows; "
            "use strategy='blocked' for larger tables"
        )
    ids = pdf[id_col].to_numpy()
    mat = _l2_normalize(np.vstack(pdf[vec_col].to_numpy()).astype(np.float64))
    bc = spark.sparkContext.broadcast((ids, mat))

    def block_pairs(batches):
        all_ids, m = bc.value
        for pdf_block in batches:
            a_ids = pdf_block[id_col].to_numpy()
            a = _l2_normalize(np.vstack(pdf_block[vec_col].to_numpy()).astype(np.float64))
            scores = a @ m.T
            keep = (scores >= threshold) & (a_ids[:, None] < all_ids[None, :])
            ai, bj = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "id_a": a_ids[ai],
                    "id_b": all_ids[bj],
                    "score": np.round(scores[ai, bj], 4),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(block_pairs, out_schema)


def lsh_planes(dim: int, bits: int, seed: int) -> "np.ndarray":
    """Seed-deterministic random hyperplanes — shared by the operator and by
    oracle-SQL generation so both sides compute the identical sketch."""
    return np.random.default_rng(seed).standard_normal((bits, dim))


def lsh_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: bool = True,
) -> DataFrame:
    """Approximate top-k: random-hyperplane sign sketches → bucket join →
    exact cosine inside buckets only.

    Classic (b, L) LSH: ``n_tables`` independent tables of ``bits``
    hyperplanes each — a pair is a candidate if it collides in ANY table
    (band-OR), so recall ≈ 1-(1-p^b)^L instead of the single-table p^b.
    ``multi_probe`` additionally probes, per table, every bucket at Hamming
    distance 1 on the (small, broadcast) query side — the multi-probe LSH
    recall lever.  Measured recall@5 vs the exact path is asserted in
    ``tests/test_similarity.py``.

    The hyperplane matrix ((L·b) × dim, seed-deterministic via
    :func:`lsh_planes`) is shipped via ``sparkContext.broadcast`` into ONE
    vectorized pandas UDF — a single ``n×dim @ dim×(L·b)`` matmul per Arrow
    batch, so the plan stays compact at any ``dim``/``bits`` (vs bits×dim
    literal expressions).  Costs at scale: the big side is written once per
    table (explode ×L — the standard LSH storage trade); the query side is
    broadcast, exploded ×L·(b+1); candidates are deduped with one hash
    aggregate before scoring.
    """
    from pyspark.sql import functions as _F
    from pyspark.sql.types import ArrayType, LongType

    spark = embeddings.sparkSession
    planes = lsh_planes(dim, n_tables * bits, seed)
    bc = spark.sparkContext.broadcast(planes)

    @_F.pandas_udf(ArrayType(LongType()))
    def sketch(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        signs = (m @ bc.value.T) > 0  # (n, L*b)
        signs = signs.reshape(len(m), n_tables, bits).astype(np.int64)
        weights = np.int64(1) << np.arange(bits, dtype=np.int64)
        packed = signs @ weights  # (n, L)
        table_base = (np.arange(n_tables, dtype=np.int64) << bits)[None, :]
        return pd.Series(list(packed + table_base))

    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("evec"),
        F.explode(sketch(F.col(vec_col))).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qvec"),
        F.explode(sketch(F.col(vec_col))).alias("bucket"),
    )
    if multi_probe:
        probes = F.array(
            F.col("bucket"),
            # flipping only the low `bits` bits stays within the same table
            *[F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(bits)],
        )
        q = q.withColumn("bucket", F.explode(probes))
    candidates = (
        e.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # a pair colliding in several tables/probes must score exactly once
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("qvec").alias("qvec"), F.first("evec").alias("evec"))
    )
    scored = candidates.select(
        "query_id", "neighbor_id", cosine(F.col("qvec"), F.col("evec")).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the k-means-bucketed scale path
# ---------------------------------------------------------------------------

def ivf_centroids(dim: int, n_lists: int, seed: int) -> "np.ndarray":
    """Seed-deterministic unit-norm coarse centroids — the untrained
    quantizer.  Shared by the operator and oracle-SQL generation (like
    :func:`lsh_planes`) so both sides assign identical lists."""
    c = np.random.default_rng(seed).standard_normal((n_lists, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def ivf_train(
    embeddings: DataFrame,
    dim: int,
    n_lists: int = 16,
    seed: int = 42,
    iters: int = 5,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    _collect_audit: list | None = None,
) -> "np.ndarray":
    """Distributed spherical k-means for the IVF coarse quantizer: each
    Lloyd iteration is ONE Spark pass — broadcast centroids → vectorized
    argmax-assignment UDF → posexplode → per-(list, dim) mean (a single hash
    aggregate) — then the tiny ``n_lists × dim`` model returns to the driver
    (a model fetch, not a data collect).  Empty lists re-seed deterministically.
    Exactly bit-reproducible up to float summation order inside the mean
    aggregate; use the untrained seeded quantizer where bit-determinism
    across runs is required (the correctness gate does).

    At 100 TB, train on a sample: k-means centroid quality saturates long
    before the full corpus (standard IVF practice trains on ~100·n_lists
    to ~1000·n_lists vectors).  ``sample_fraction`` applies a seeded
    deterministic sample before the Lloyd passes, so each iteration scans
    a fraction of the data while assignment (:func:`ivf_cosine_topk`)
    still covers every row."""
    from pyspark.sql.types import IntegerType

    from ..session import static_plans

    spark = embeddings.sparkSession
    cents = ivf_centroids(dim, n_lists, seed)
    if sample_fraction is not None:
        embeddings = embeddings.sample(fraction=sample_fraction, seed=seed)
    # persist: every Lloyd iteration re-scans vecs; without this the source
    # scan + sample + cast re-execute once per iteration
    vecs = embeddings.select(_as_double(F.col(vec_col)).alias("vec")).persist()
    # the explicit count both materializes the cache BEFORE the first Lloyd
    # round (instead of round 1 paying it) and sizes the loop's exchange
    # from the data: the per-round aggregates operate on n_vecs x dim
    # posexploded rows, so a cluster-width shuffle constant schedules mostly
    # empty tasks for small training sets (scale-adaptive width, same
    # scaled_partitions policy as connected_components/global_sequence)
    from ..operators.frontier import scaled_partitions

    n_vecs = vecs.count()
    parallelism = spark.sparkContext.defaultParallelism
    loop_parts = min(parallelism, scaled_partitions(n_vecs * dim, parallelism))
    with static_plans(spark):  # fixed-shape Lloyd rounds: plan statically
        cents = _lloyd_rounds(
            spark, vecs, cents, dim, iters, loop_parts, _collect_audit
        )
    vecs.unpersist()
    return cents


def _lloyd_rounds(spark, vecs, cents, dim, iters, loop_parts, _collect_audit):
    from pyspark.sql.types import IntegerType

    for _ in range(iters):
            bc = spark.sparkContext.broadcast(cents)

            @F.pandas_udf(IntegerType())
            def assign(v: pd.Series) -> pd.Series:
                m = np.vstack(v.to_numpy())
                m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
                return pd.Series(np.argmax(m @ bc.value.T, axis=1).astype(np.int32))

            # Per-(list, pos) means exactly as before (bit-identical float
            # arithmetic), then reassembled into ONE array row per list BEFORE
            # the collect: driver traffic is ≤ n_lists rows per Lloyd iteration
            # instead of n_lists × dim (the r5 verdict's scale-killer — at the
            # 1e5-list × 768-dim design point that was ~10^8 driver rows/iter).
            # One explicit list_id exchange at the loop width serves both
            # aggregates (hash(list_id) clusters (list_id, pos) too).
            per_list = (
                vecs.select(assign(F.col("vec")).alias("list_id"),
                            F.posexplode(F.col("vec")).alias("pos", "x"))
                .repartition(loop_parts, "list_id")
                .groupBy("list_id", "pos")
                .agg(F.avg("x").alias("mean"))
                .groupBy("list_id")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "mean"))).alias("pm"))
            )
            rows = per_list.collect()
            if _collect_audit is not None:  # test hook: driver-row budget audit
                _collect_audit.append(len(rows))
            new = cents.copy()  # empty lists keep their seed position
            for r in rows:
                v = np.zeros(dim)
                for e in r["pm"]:
                    v[e["pos"]] = e["mean"]
                n = np.linalg.norm(v)
                if n > 0:
                    new[int(r["list_id"])] = v / n
            cents = new
            bc.unpersist()  # executors drop the superseded centroid copy
    return cents


def ivf_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 2,
    seed: int = 42,
    centroids: "np.ndarray | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: assign every vector to its nearest coarse
    centroid (inverted list), probe each query's ``n_probe`` nearest lists,
    and score exactly only within probed lists — the classic
    IVF-flat ANN trade (recall grows with ``n_probe``; compute drops by
    ~``n_lists / n_probe`` vs brute force).

    Plan shape mirrors :func:`lsh_cosine_topk`: the centroid matrix is tiny
    and rides one broadcast into a single vectorized assignment UDF per
    side; the big side is written once (one list per vector — ×1 storage,
    vs the LSH table's ×L); candidates dedup with one hash aggregate.  Pass
    ``centroids=ivf_train(...)`` for the k-means-trained quantizer or leave
    None for the seed-deterministic untrained one (oracle-reproducible)."""
    from pyspark.sql.types import ArrayType, IntegerType

    spark = embeddings.sparkSession
    cents = centroids if centroids is not None else ivf_centroids(dim, n_lists, seed)
    bc = spark.sparkContext.broadcast(cents)

    @F.pandas_udf(IntegerType())
    def assign1(v: pd.Series) -> pd.Series:
        m = np.vstack(v.to_numpy())
        return pd.Series(np.argmax(m @ bc.value.T, axis=1).astype(np.int32))

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe(v: pd.Series) -> pd.Series:
        m = np.vstack(v.to_numpy())
        dots = m @ bc.value.T
        # stable argsort → ties resolve to the lower list id, like the oracle
        order = np.argsort(-dots, axis=1, kind="stable")[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    # coalesce guard: argmax is never null for non-null vectors, but without
    # it the join's inferred isnotnull(list_id) predicate sits BELOW the
    # projection and Spark evaluates the assignment UDF twice per row (one
    # ArrowEvalPython for the filter, one for the project); coalesce lets the
    # optimizer drop the null filter entirely → exactly one Python stage per
    # side (plan-asserted)
    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("evec"),
        F.coalesce(assign1(F.col(vec_col)), F.lit(-1)).alias("list_id"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qvec"),
        F.explode(probe(F.col(vec_col))).alias("list_id"),
    )
    candidates = (
        e.join(F.broadcast(q), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("qvec").alias("qvec"), F.first("evec").alias("evec"))
    )
    scored = candidates.select(
        "query_id", "neighbor_id", cosine(F.col("qvec"), F.col("evec")).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def _within_cluster_pairs(
    e: DataFrame, threshold: float, max_cluster_rows: int
) -> DataFrame:
    """All within-cluster ``(id_a < id_b)`` pairs with cosine ≥ threshold
    over a pinned assignment ``(_id, _vec, cluster, …)`` — skew-routed.

    Per-cluster sizes (one agg over the pin, broadcast back — ≤ n_lists
    rows) split clusters at ``max_cluster_rows``.  Cold clusters take the
    single-task BLAS matmul; hot clusters are sub-blocked with the
    block-pair decomposition keyed by ``(cluster, pa, pb)`` so no task
    receives more than ~2 sub-blocks of a hot cluster.  Every unordered
    pair lands in exactly one task either way, so the union is exact."""
    from pyspark.sql.types import StructField, StructType

    id_field = e.schema["_id"]
    pair_schema = StructType(
        [StructField("id_a", id_field.dataType), StructField("id_b", id_field.dataType)]
    )

    def pairs_in_cluster(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_id"].to_numpy()
        mat = _l2_normalize(np.vstack(pdf["_vec"].to_numpy()).astype(np.float64))
        scores = mat @ mat.T
        keep = (scores >= threshold) & (ids[:, None] < ids[None, :])
        ai, bj = np.nonzero(keep)
        return pd.DataFrame({"id_a": ids[ai], "id_b": ids[bj]})

    sizes = e.groupBy("cluster").agg(F.count(F.lit(1)).alias("_csize"))
    sized = e.join(F.broadcast(sizes), "cluster")
    cold = sized.filter(F.col("_csize") <= max_cluster_rows).drop("_csize")
    hot = sized.filter(F.col("_csize") > max_cluster_rows)

    cold_pairs = cold.groupBy("cluster").applyInPandas(pairs_in_cluster, pair_schema)

    # Hot clusters: each row hashes into one of nb = ceil(size / block_rows)
    # sub-blocks and is exploded to every unordered block-pair containing
    # its block, so every unordered row pair meets in exactly ONE
    # (cluster, pa, pb) task whose input is at most two sub-blocks.
    block_rows = max(1, max_cluster_rows // 2)
    nb = F.ceil(F.col("_csize") / F.lit(block_rows)).cast("int")
    hot_b = hot.withColumn(
        "_blk", F.pmod(F.xxhash64(F.col("_id")), nb).cast("int")
    ).withColumn("_nb", nb)
    hot_src = hot_b.select(
        "cluster", "_id", "_vec", "_blk",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("_nb") - 1),
                lambda j: F.struct(
                    F.least(F.col("_blk"), j).alias("pa"),
                    F.greatest(F.col("_blk"), j).alias("pb"),
                ),
            )
        ).alias("_pair"),
    ).select(
        "cluster", "_id", "_vec", "_blk",
        F.col("_pair.pa").alias("_pa"), F.col("_pair.pb").alias("_pb"),
    )

    def hot_pairs_in_blocks(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        a_blk, b_blk = int(key[1]), int(key[2])
        ids = pdf["_id"].to_numpy()
        mat = _l2_normalize(np.vstack(pdf["_vec"].to_numpy()).astype(np.float64))
        if a_blk == b_blk:
            scores = mat @ mat.T
            keep = (scores >= threshold) & (ids[:, None] < ids[None, :])
            ai, bj = np.nonzero(keep)
            id_a, id_b = ids[ai], ids[bj]
        else:
            is_a = pdf["_blk"].to_numpy() == a_blk
            a_ids, b_ids = ids[is_a], ids[~is_a]
            scores = mat[is_a] @ mat[~is_a].T
            ai, bj = np.nonzero(scores >= threshold)
            ia, ib = a_ids[ai], b_ids[bj]
            id_a, id_b = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": id_a, "id_b": id_b})

    hot_pairs = hot_src.groupBy("cluster", "_pa", "_pb").applyInPandas(
        hot_pairs_in_blocks, pair_schema
    )
    return cold_pairs.unionByName(hot_pairs)


def semantic_dedup(
    embeddings: DataFrame,
    centroids: "np.ndarray",
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 25,
    max_cluster_rows: int = 8192,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): k-means-cluster the
    embedding space, call within-cluster pairs with cosine ≥ ``threshold``
    semantic duplicates, and keep ONE exemplar per duplicate group — the
    member FARTHEST from its cluster centroid (the paper's keep rule: low
    centroid similarity = the least prototypical copy preserves the most
    diversity), ties broken by id.

    ``centroids`` come from :func:`ivf_train` (sampled k-means) or
    :func:`ivf_centroids` (seeded, for bit-determinism) — the same coarse
    quantizer the IVF ANN path uses, deliberately shared: one trained model
    serves search AND dedup.

    Plan: ONE Arrow pass assigns (cluster, centroid_sim) with broadcast
    centroids; within-cluster exact pairs via one ``applyInPandas`` BLAS
    matmul per cluster.  Skew is handled AUTOMATICALLY: per-cluster sizes
    (one agg over the pinned assignment, broadcast back — ≤ n_lists rows)
    split clusters at ``max_cluster_rows``.  Cold clusters take the single-
    task matmul; hot clusters are sub-blocked (the
    :func:`cosine_near_dup_pairs` block-pair decomposition, keyed by
    ``(cluster, pa, pb)``) so NO task ever receives more than ~2 sub-blocks
    of a hot cluster — with k-means on web data hot clusters are the norm,
    and an unroutable 1e5-member cluster would otherwise demand an 80 GB
    score matrix in one executor.  Every unordered pair still lands in
    exactly one task, so results are identical to the unrouted plan.
    Duplicate groups close under :func:`dedup.connected_components`
    (O(diameter) rounds); exemplar choice is one hash aggregate + one
    join.  Nothing collects to the driver.

    Returns one row per input: ``(id, cluster, centroid_sim, component,
    keep)`` — ``component`` is the duplicate-group label (min member id;
    singletons label themselves), ``keep`` marks survivors."""
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    from .dedup import connected_components

    spark = embeddings.sparkSession
    cents = np.asarray(centroids, dtype=np.float64)
    cents = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    bc = spark.sparkContext.broadcast(cents)

    assign_schema = StructType(
        [StructField("cluster", IntegerType()), StructField("centroid_sim", DoubleType())]
    )

    @F.pandas_udf(assign_schema)
    def assign(v: pd.Series) -> pd.DataFrame:
        m = np.vstack(v.to_numpy()).astype(np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        dots = m @ bc.value.T
        cl = np.argmax(dots, axis=1)
        return pd.DataFrame(
            {"cluster": cl.astype(np.int32),
             "centroid_sim": np.round(dots[np.arange(len(cl)), cl], 6)}
        )

    e = embeddings.select(
        F.col(id_col).alias("_id"),
        _as_double(F.col(vec_col)).alias("_vec"),
        assign(_as_double(F.col(vec_col))).alias("_a"),
    ).select("_id", "_vec", F.col("_a.cluster").alias("cluster"),
             F.col("_a.centroid_sim").alias("centroid_sim"))
    e = e.localCheckpoint()  # one materialization: pairs + labels + output all read it

    dup_pairs = _within_cluster_pairs(e, threshold, max_cluster_rows)
    comps = connected_components(
        e.select(F.col("_id")), dup_pairs, id_col="_id", max_iter=max_iter
    )
    exemplars = (
        comps.join(e.select("_id", "centroid_sim"), comps["id"] == e["_id"])
        .groupBy("component")
        .agg(F.min_by("id", F.struct("centroid_sim", "id")).alias("_keep_id"))
    )
    out = (
        e.join(comps, e["_id"] == comps["id"])
        .join(exemplars, "component")
        .select(
            F.col("_id").alias(id_col),
            "cluster",
            "centroid_sim",
            "component",
            (F.col("_id") == F.col("_keep_id")).alias("keep"),
        )
    )
    return out
