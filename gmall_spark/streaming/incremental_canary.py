"""Incremental memorization-canary scan.

The streaming twin of X213 (queries_llm.llm_canary_scan) — the
easiest twin class in the registry (X179/X200 SUM-merge equality):
per-canary (docs_hit, total_hits) are plain sums over docs, so the
maintained state is the running per-canary count pair and a batch
merges by ADDITION — streaming equals batch EXACTLY after any split,
no re-derivation, no retroactivity. The operational shape: the canary
alarm must fire DURING ingest (the batch where the secret first
appears), not at the next full-corpus sweep.

State: one tiny parquet table (canary, docs_hit, total_hits) per
batch epoch; the current view sums epochs (the X191 fingerprint
discipline — integer addition commutes, so the merged view is
independent of batch order, and a replay overwrites its own epoch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.queries_llm.tok_media import CANARY_PHRASES, phrase_counts
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs


def process_batch(
    spark: SparkSession, batch_docs: DataFrame, store_dir: str, batch_id: int
) -> DataFrame:
    """Scan one micro-batch with tok_media.phrase_counts, the batch
    query's own counting, and write its per-canary counts to its
    epoch; returns the batch's counts (the alarm view: a canary with
    total_hits > 0 in THIS batch just leaked)."""
    counts = phrase_counts(batch_docs, CANARY_PHRASES, "canary")
    idempotent_parquet_write(f"{store_dir}/canary_counts")(counts, batch_id)
    return counts


def current_counts(spark: SparkSession, store_dir: str) -> DataFrame:
    """The merged corpus-so-far view: per canary, the SUM over all
    batch epochs — bit-equal to the batch query on the union of
    everything ingested (integer addition, order-free)."""
    return (
        read_epochs(spark, f"{store_dir}/canary_counts")
        .groupBy("canary")
        .agg(
            F.sum("docs_hit").cast("bigint").alias("docs_hit"),
            F.sum("total_hits").cast("bigint").alias("total_hits"),
        )
    )
