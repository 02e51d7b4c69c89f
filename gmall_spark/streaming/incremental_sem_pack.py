"""Incremental semantic (in-context) packing.

The streaming twin of X244 (queries_llm.incontext
llm_semantic_packing), in the RE-DERIVE class with a CLUSTER-SCOPED
churn report: the chain depends on corpus-global state twice over —
the k-means centroids retrain as the corpus grows, and a single new
embedding can crack any existing document's kNN top-k — so no
per-row merge law exists and the honest twin re-derives the chain
table from merged raw stores with the batch query's own pure assembly
(incontext.chain_pack on ivf.train_centroids + gemm_allpairs_topk,
the exact calls the batch fixtures make), giving bit-equality with
the batch query on everything ingested.

What makes the re-derivation OPERATIONALLY cheap is the chain's
locality theorem: the packed chain of a cluster is a pure function
of (its membership, its members' lengths, its members' kNN
out-edges) — chain_pack's contract — so between consecutive views
only clusters where one of those inputs moved can change, and
:func:`chain_churn` reports exactly which did (the
incremental_pagerank rank-change-log discipline). The churn test
pins the theorem on real data: every changed cluster shows a changed
input, every unchanged-input cluster is row-identical. At 100 TB
the report is what a scheduler uses to re-pack ONLY dirty clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.operators import ivf, similarity
from gmall_spark.queries_llm.ann_topk import PR_KNN_K
from gmall_spark.queries_llm.incontext import chain_pack
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs


def process_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    batch_emb: DataFrame,
    store_dir: str,
    batch_id: int,
) -> None:
    """Ingest one micro-batch: write raw docs and embeddings to its
    epoch (the X209 raw-store pattern — global retraining/kNN make
    anything finer lossy)."""
    idempotent_parquet_write(f"{store_dir}/sp_docs")(
        batch_docs.select("doc_id", "text"), batch_id
    )
    idempotent_parquet_write(f"{store_dir}/sp_emb")(
        batch_emb.select("vec_id", "embedding"), batch_id
    )


def current_packing(spark: SparkSession, store_dir: str) -> DataFrame:
    """The chain table over everything ingested — incontext.chain_pack,
    the assembly the batch fixtures feed, so this equals the batch X244
    on the union (both orderings; filter ordering='semantic' for the
    registered query's slice)."""
    docs = read_epochs(spark, f"{store_dir}/sp_docs")
    emb = read_epochs(spark, f"{store_dir}/sp_emb")
    cents = ivf.train_centroids(emb)
    knn = similarity.gemm_allpairs_topk(emb, k=PR_KNN_K).select(
        F.col("query_id").alias("src"),
        F.col("neighbor_id").alias("dst"),
        "cos_sim",
    )
    return chain_pack(docs, emb, cents, knn)


def chain_churn(prev: DataFrame, cur: DataFrame) -> DataFrame:
    """Per-cluster churn between two chain views (semantic ordering):
    status 'new' (cluster id absent before), 'changed' (any member
    row differs — membership, order, pack assignment, or offsets), or
    'stable' (row-identical). One full-outer agg on the cluster key;
    the row-level diff rides md5-of-sorted-member-rows so the compare
    is order-free and bounded by cluster count."""

    def sig(df: DataFrame, name: str) -> DataFrame:
        sem = df.filter(F.col("ordering") == "semantic")
        row = F.concat_ws(
            ":",
            "chain_pos",
            "doc_id",
            "n_tok",
            "pack_row",
            "tok_start",
            "tok_end",
        )
        return sem.groupBy("list_id").agg(
            F.md5(
                F.array_join(F.array_sort(F.collect_list(row)), "|")
            ).alias(f"{name}_sig"),
            F.count(F.lit(1)).cast("bigint").alias(f"{name}_members"),
        )
    a = sig(prev, "prev")
    b = sig(cur, "cur")
    j = a.join(b, "list_id", "full_outer")
    return j.select(
        "list_id",
        F.coalesce("prev_members", F.lit(0)).alias("prev_members"),
        F.coalesce("cur_members", F.lit(0)).alias("cur_members"),
        F.when(F.col("prev_sig").isNull(), "new")
        .when(F.col("cur_sig").isNull(), "dropped")
        .when(F.col("prev_sig") == F.col("cur_sig"), "stable")
        .otherwise("changed")
        .alias("status"),
    )
