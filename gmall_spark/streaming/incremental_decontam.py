"""Incremental semantic decontamination against a FROZEN reference.

The streaming twin of X220 (queries_llm.llm_semantic_decontam) — the
embarrassingly-incremental class (X209's stateless cousin): the
reference index (centroids + reference vectors by list) is FROZEN at
deployment (the benchmark set does not grow with the corpus), so a
corpus vector's verdict depends only on itself and the frozen index —
each arriving batch assigns to lists, meets the reference inside its
list, exact-cosine verifies, and writes its flags to its own
epoch. The merged view is plain union: streaming equals batch
EXACTLY after any split, and the alarm (this batch shipped
contaminated docs) fires in the batch where the doc ARRIVES — the
operational point; a post-hoc corpus sweep is exactly what this
replaces at 100 TB."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.operators import ivf
from gmall_spark.operators.similarity import _verify_pairs
from gmall_spark.queries_llm.extraction_tiers import best_reference
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs


def reference_index(
    ref_emb: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """(id_b, list_id): the frozen reference side, built once at
    deployment (broadcast-sized — the benchmark set)."""
    return (
        ivf.build_index(ref_emb, centroids)
        .select(F.col("vec_id").alias("id_b"), "list_id")
    )


def process_batch(
    spark: SparkSession,
    batch_emb: DataFrame,
    ref_emb: DataFrame,
    ref_index: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    store_dir: str,
    batch_id: int,
) -> DataFrame:
    """Flag one micro-batch against the frozen reference (assign, meet
    the reference in-list, verify, keep each doc's
    extraction_tiers.best_reference — the batch query's own
    aggregation) and write the flags to its epoch; returns the
    batch's flags (the arrival-time alarm)."""
    cand = (
        ivf.build_index(batch_emb, centroids)
        .select(F.col("vec_id").alias("id_a"), "list_id")
        .join(F.broadcast(ref_index), "list_id")
        .select("id_a", "id_b")
    )
    flags = best_reference(
        _verify_pairs(
            cand, batch_emb.unionByName(ref_emb), threshold, "vec_id", "embedding"
        )
    )
    idempotent_parquet_write(f"{store_dir}/decontam_flags")(flags, batch_id)
    return flags


def current_flags(spark: SparkSession, store_dir: str) -> DataFrame:
    """Union of everything flagged so far — row-identical to the
    batch X220 on the arrivals (per-doc verdicts are independent
    under a frozen reference)."""
    return read_epochs(spark, f"{store_dir}/decontam_flags")
