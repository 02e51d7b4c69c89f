"""ANN top-k retrieval families: brute cosine, LSH, IVF, SQ, PQ, IVF-PQ (+residual), embedding PageRank centrality.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from gmall_spark.operators import (
    ivf,
    similarity,
)
from gmall_spark import fixtures_audit
from gmall_spark.queries import _t, query
from gmall_spark.queries_llm.prelude import (
    _emb,
    _knn_edges,
    _oracle_dim_check,
    _trained_books,
    _trained_centroids,
)

# --- similarity search ----------------------------------------------------


@query(
    "similarity_topk_cosine",
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS nvec FROM embeddings
), pairs AS (
  SELECT query_id, neighbor_id,
         unnest(qvec)::DOUBLE AS qx, unnest(nvec)::DOUBLE AS nx
  FROM q CROSS JOIN c WHERE query_id <> neighbor_id
), scored AS (
  SELECT query_id, neighbor_id,
         round(SUM(qx * nx) / (sqrt(SUM(qx * qx)) * sqrt(SUM(nx * nx))), 6) AS cos_sim
  FROM pairs GROUP BY query_id, neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos_sim
FROM ranked WHERE rank <= 10
""",
)
def q_similarity_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-10 for 5 query vectors (exact ANN
    baseline; broadcast queries, codegen'd higher-order fold)."""
    emb = _emb(spark, sf_dir)
    return similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


from gmall_spark.ann_oracles import pagerank_oracle  # noqa: E402


PR_KNN_K = 5


@query("embedding_pagerank_centrality", pagerank_oracle(k=PR_KNN_K))
def q_embedding_pagerank_centrality(spark, sf_dir):
    """PageRank centrality over the embedding kNN(5) cosine graph
    (TextRank/LexRank family — centrality-weighted data selection;
    used to pick duplicate-cluster representatives). Registered
    variant builds the exact kNN graph (brute-force, oracle-matched);
    at 100 TB the SAME pagerank operator consumes an LSH- or
    IVF-built kNN edge list (operators/similarity.py, operators/
    ivf.py) — the iteration only ever shuffles (node, rank) pairs.
    Ranks are fixed-point BIGINT (micro-units): integer division and
    exact integer sums are shuffle-order-independent, so the unrolled
    DuckDB CTE twin hash-matches bit-for-bit."""
    from gmall_spark.operators.graph import pagerank

    return pagerank(_knn_edges(spark, sf_dir, PR_KNN_K).select("src", "dst"))


from gmall_spark.ann_oracles import ivf_topk_oracle, lsh_topk_oracle  # noqa: E402


@query("similarity_lsh_topk", lsh_topk_oracle())
def q_similarity_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN (deterministic hyperplanes) — scale path.
    The oracle is generated SQL baking in the same md5-derived plane
    coefficients (see gmall_spark.ann_oracles); recall vs brute force
    is additionally gated by tests/test_llm_ops.py."""
    emb = _emb(spark, sf_dir)
    return similarity.lsh_bucketed_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, dim=_oracle_dim_check(spark, sf_dir)
    )


@query("similarity_ivf_topk", ivf_topk_oracle())
def q_similarity_ivf_topk(spark, sf_dir):
    """IVF ANN — the second scale path: deterministic k-means
    centroids (Lloyd iterations as DataFrame aggregates; only the k
    centroid vectors reach the driver), corpus assigned to inverted
    lists, queries probe their nprobe nearest lists. The training is
    deterministic by construction (md5-ordered sample/init, fixed
    iterations, lower-id ties), so the oracle unrolls the identical
    k-means in SQL (gmall_spark.ann_oracles.ivf_topk_oracle);
    tests/test_ivf.py gates recall vs brute force and the index
    invariants."""
    emb = _emb(spark, sf_dir)
    return ivf.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        centroids=_trained_centroids(spark, sf_dir),
    )


from gmall_spark.ann_oracles import sq_topk_oracle  # noqa: E402


@query("similarity_sq_topk", sq_topk_oracle())
def q_similarity_sq_topk(spark, sf_dir):
    """Scalar-quantized (int8-style) ANN — the memory-bandwidth scale
    path: per-dimension min/max quantizer trained by one single-row
    aggregate, 8-bit codes scanned for approximate cosine, exact
    rescore of the top refine*k candidates per query
    (operators/sq.py). Oracle is generated SQL replaying the same
    quantize/dequantize arithmetic; recall vs brute force gated by
    tests/test_llm_ops.py::test_sq_recall_at_10. The trained
    (mins, steps) row is cached per (session, sf_dir) like the PQ
    codebooks, so repeated runs skip the training aggregate."""
    from gmall_spark.operators import sq

    emb = _emb(spark, sf_dir)

    def train():
        row = sq.train_minmax(emb, _oracle_dim_check(spark, sf_dir)).collect()[0]
        return ([float(v) for v in row["mins"]], [float(v) for v in row["steps"]])

    return sq.sq_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        dim=_oracle_dim_check(spark, sf_dir),
        stats=fixtures_audit.memo(spark, ("sq_stats", sf_dir), train, timed=True),
    )


from gmall_spark.ann_oracles import pq_topk_oracle  # noqa: E402


@query("similarity_pq_topk", pq_topk_oracle())
def q_similarity_pq_topk(spark, sf_dir):
    """Product-quantized ANN (faiss PQ8x8 design) — the bytes-per-
    vector scale path: 8 sub-space codebooks of 256 centroids trained
    on the constant-bounded md5 sample (the ivf.py precedent), codes
    assigned by one Arrow gemm pass, ADC approximate ranking against
    the reconstructed corpus, exact rescore of the top refine·k
    (operators/pq.py). Oracle is generated SQL with each sub-space's
    k-means unrolled; recall vs brute force gated by
    tests/test_llm_ops.py::test_pq_recall_at_10."""
    from gmall_spark.operators import pq

    emb = _emb(spark, sf_dir)
    return pq.pq_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        dim=_oracle_dim_check(spark, sf_dir),
        books=_trained_books(spark, sf_dir),
    )


from gmall_spark.ann_oracles import ivfpq_topk_oracle  # noqa: E402


@query("similarity_ivfpq_topk", ivfpq_topk_oracle())
def q_similarity_ivfpq_topk(spark, sf_dir):
    """faiss-IVFPQ composition (by_residual=false): IVF coarse lists
    prune candidates (nprobe/n_lists of the corpus), PQ codes supply
    ADC scores over only those candidates, exact rescore of the top
    refine·k finishes — the full 100 TB ANN architecture, reusing the
    session-shared coarse centroids (IVF/SemDeDup) AND codebooks
    (PQ), so each trains once. Oracle = the shared _kmeans_ctes +
    per-sub-space k-means prefixes composed (disjoint CTE
    namespaces); recall gated by tests/test_llm_ops.py."""
    from gmall_spark.operators import pq

    emb = _emb(spark, sf_dir)
    return pq.ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        dim=_oracle_dim_check(spark, sf_dir),
        centroids=_trained_centroids(spark, sf_dir),
        books=_trained_books(spark, sf_dir),
    )


from gmall_spark.ann_oracles import ivfpq_residual_topk_oracle  # noqa: E402


@query("similarity_ivfpq_residual_topk", ivfpq_residual_topk_oracle())
def q_similarity_ivfpq_residual_topk(spark, sf_dir):
    """faiss-IVFPQ with by_residual=true — the faiss DEFAULT: the
    codebooks quantize u − c_coarse(u) and dq re-adds the coarse
    centroid before ADC. Residual variance = WITHIN-cluster variance,
    so the same code budget reconstructs tighter exactly when the
    coarse clusters concentrate — decisively on clustered corpora
    (planted-cluster MSE test), ≈ parity on this near-isotropic
    fixture (both variants sit on the IVF recall ceiling either way;
    tests/test_llm_ops.py gates both facts). Same pruning/scan
    economics as similarity_ivfpq_topk; the oracle rebinds the shared
    per-sub-space k-means CTEs onto residual sample/corpus relations
    and re-adds the centroid in recon_full."""
    from gmall_spark.operators import pq

    emb = _emb(spark, sf_dir)
    cents = _trained_centroids(spark, sf_dir)
    books = fixtures_audit.memo(
        spark,
        ("pq_residual_books", sf_dir),
        lambda: pq.train_codebooks_residual(
            emb, cents, _oracle_dim_check(spark, sf_dir)
        ),
        timed=True,
    )
    return pq.ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        dim=_oracle_dim_check(spark, sf_dir),
        centroids=cents,
        books=books,
        by_residual=True,
    )


