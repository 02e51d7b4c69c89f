"""Incremental unicode-normalization census.

The streaming twin of X258b (queries_llm.text_unicode_rollup) — the
X213 SUM-merge equality class, the mojibake census's sibling: per
rule-class (n_docs, n_hits) are plain sums over docs, state is the
running pair per class, batches merge by ADDITION, so streaming
equals batch EXACTLY after any ingest split. Operationally: a feed
that starts shipping unnormalized compatibility forms (a new source
with fullwidth text, a ligature-heavy PDF extractor) is visible in
the batch where it lands, not at the next full-corpus sweep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.queries_llm.text_signals import rule_class_counts
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs


def process_batch(
    spark: SparkSession, batch_docs: DataFrame, store_dir: str, batch_id: int
) -> DataFrame:
    """Scan one micro-batch with text_signals.rule_class_counts, the
    batch query's own census (already-corrupted text arrives on the
    wire; the synth step belongs to the harness), and write its
    per-class counts to its epoch; returns the batch's counts (the
    alarm view)."""
    counts = rule_class_counts(batch_docs)
    idempotent_parquet_write(f"{store_dir}/unicode_counts")(counts, batch_id)
    return counts


def current_counts(spark: SparkSession, store_dir: str) -> DataFrame:
    """The merged corpus-so-far census — bit-equal to the batch query
    on everything ingested (integer addition, order-free)."""
    return (
        read_epochs(spark, f"{store_dir}/unicode_counts")
        .groupBy("rule_class")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_hits").cast("bigint").alias("n_hits"),
        )
    )
