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

from gmall_spark.operators import unicode_norm
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs


def batch_counts(batch_docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The X258b projection over one batch — the IDENTICAL stacked
    regexp_count pass the batch query runs (already-corrupted text
    arrives on the wire; the synth step belongs to the harness)."""
    t = F.col(text_col)
    stacked = batch_docs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("rule_class"),
                        F.regexp_count(t, F.lit(pat))
                        .cast("bigint")
                        .alias("hits"),
                    )
                    for name, pat in unicode_norm.CLASSES
                ]
            )
        ).alias("s")
    ).select("s.rule_class", "s.hits")
    return stacked.groupBy("rule_class").agg(
        F.sum(F.when(F.col("hits") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs"),
        F.sum("hits").cast("bigint").alias("n_hits"),
    )


def process_batch(
    spark: SparkSession, batch_docs: DataFrame, store_dir: str, batch_id: int
) -> DataFrame:
    """Scan one micro-batch and write its per-class counts to its
    epoch; returns the batch's counts (the alarm view)."""
    counts = batch_counts(batch_docs)
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
