"""SemDeDup-style semantic deduplication (cluster-then-prune).

The published SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540)
for pruning semantically redundant training data: k-means-cluster the
embedding space, then compare pairs only WITHIN each cluster and drop
near-duplicates above a cosine threshold. The clustering bounds the
quadratic term — all-pairs cost n² becomes k·(n/k)² — and the
per-cluster work is embarrassingly parallel.

Spark shape: the trainer is the IVF spherical k-means
(operators.ivf.train_centroids — DataFrame aggregates, only k
centroid vectors on the driver), assignment is the same one-gemm
Arrow UDF, and the within-cluster pair generation is a codegen'd
self-join on ``list_id`` — at 100 TB the index table is written
partitioned by ``list_id`` so the self-join co-locates without a
shuffle. Verification reuses the vectorized exact-cosine pass, so
false positives are impossible (same band-then-verify discipline as
the MinHash and hyperplane-LSH paths).

Determinism: everything upstream is deterministic (md5-ordered
sample/init, fixed Lloyd iterations, lower-id ties), which is what
lets the registered query carry a generated DuckDB oracle
(ann_oracles.semantic_dedup_oracle) despite the iterative trainer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gmall_spark.operators import ivf
from gmall_spark.operators.similarity import _verify_pairs


def semantic_dedup_pairs(
    embeddings: DataFrame,
    threshold: float,
    n_lists: int = ivf.IVF_LISTS,
    iters: int = ivf.IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """(id_a, id_b, cos_sim) near-dup pairs found within k-means
    clusters (id_a < id_b, cos_sim >= threshold).

    Versus the all-pairs scan this misses only pairs straddling a
    cluster boundary — the SemDeDup trade: at production scale the
    clusters are tight enough (k grows with n) that boundary pairs
    are rare, and the cost drops from n² to k·(n/k)².
    """
    from pyspark import StorageLevel

    centroids = centroids or ivf.train_centroids(
        embeddings, n_lists, iters, id_col=id_col, vec_col=vec_col
    )
    # persisted (r13): the (vec_id, list_id) assignment feeds BOTH
    # sides of the within-cluster self-join — without the persist the
    # centroid-assignment Arrow pass ran once per side
    index = (
        ivf.build_index(embeddings, centroids, id_col, vec_col)
        .select("vec_id", "list_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    other = index.select(
        F.col("vec_id").alias("vid2"), F.col("list_id")
    )
    cand = (
        index.join(other, "list_id")
        .filter(F.col("vec_id") < F.col("vid2"))
        .select(F.col("vec_id").alias("id_a"), F.col("vid2").alias("id_b"))
    )
    return _verify_pairs(cand, embeddings, threshold, id_col, vec_col)


def semantic_dedup_keepers(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    **kwargs,
) -> DataFrame:
    """Corpus ids minus the higher member of every within-cluster
    near-dup pair (the SemDeDup pruning decision)."""
    drops = (
        semantic_dedup_pairs(embeddings, threshold, id_col=id_col, **kwargs)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return embeddings.select(id_col).join(drops, id_col, "anti")


def cluster_capped_sample(
    assignment: DataFrame,
    n_lists: int,
    pct: int,
) -> DataFrame:
    """Cluster-balanced (diversity-capped) selection (X199): given a
    (vec_id, list_id) cluster assignment, keep at most the BALANCED
    SHARE of a pct% budget from each cluster — cap = ceil(ceil(n·pct
    /100) / n_lists) — picked in deterministic md5 order (the k-means
    sampling idiom). Near-dup clusters are exactly the over-dense
    ones, so the cap is what stops them dominating a training sample
    (the selection-side complement of SemDeDup's pruning).

    All-integer arithmetic (ceilings via (a+b-1)//b), so the oracle
    replays it exactly. Returns the SELECTED rows:
    (vec_id, list_id, rnk, cluster_size, cap, capped) where capped
    marks clusters that actually hit the cap.

    Scale shape: one shuffle on list_id serves both the rank and the
    cluster size; the 1-row total broadcasts."""
    w = Window.partitionBy("list_id").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    sz = Window.partitionBy("list_id")
    ranked = assignment.select(
        "vec_id",
        "list_id",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(sz).alias("cluster_size"),
    )
    tot = assignment.agg(F.count(F.lit(1)).alias("n"))
    # cap = ceil(ceil(n*pct/100) / n_lists) — `div` keeps it integer
    # end to end (no double division to round)
    return (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn(
            "cap",
            F.expr(
                f"((n * {pct} + 99) div 100 + {n_lists} - 1) div {n_lists}"
            ),
        )
        .filter(F.col("rnk") <= F.col("cap"))
        .select(
            "vec_id",
            F.col("list_id").cast("bigint").alias("list_id"),
            F.col("rnk").cast("bigint").alias("rnk"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("cap").cast("bigint").alias("cap"),
            (F.col("cluster_size") > F.col("cap")).alias("capped"),
        )
    )
