"""Incremental mojibake census.

The streaming twin of X230 (queries_llm.text_mojibake_rollup) — the
X213 SUM-merge equality class: per-pattern (docs_hit, total_hits)
are plain sums over docs, state is the running pair per pattern, a
batch merges by ADDITION, so streaming equals batch EXACTLY after
any ingest split. Operationally: a feed that starts shipping
double-encoded text is visible in the batch where it lands (its
patterns' counts jump), not at the next full-corpus sweep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.operators import mojibake
from gmall_spark.queries_llm.tok_media import phrase_counts
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs


def process_batch(
    spark: SparkSession, batch_docs: DataFrame, store_dir: str, batch_id: int
) -> DataFrame:
    """Scan one micro-batch with tok_media.phrase_counts, the batch
    query's own counting (already-corrupted text arrives on the wire;
    the synth step belongs to the test harness), and write its
    per-pattern counts to its epoch; returns the batch's counts (the
    alarm view)."""
    counts = phrase_counts(
        batch_docs, [bad for bad, _ in mojibake.PATTERNS], "pattern"
    )
    idempotent_parquet_write(f"{store_dir}/mojibake_counts")(counts, batch_id)
    return counts


def current_counts(spark: SparkSession, store_dir: str) -> DataFrame:
    """The merged corpus-so-far census: per pattern, the SUM over all
    batch epochs — bit-equal to the batch query on everything
    ingested (integer addition, order-free)."""
    return (
        read_epochs(spark, f"{store_dir}/mojibake_counts")
        .groupBy("pattern")
        .agg(
            F.sum("docs_hit").cast("bigint").alias("docs_hit"),
            F.sum("total_hits").cast("bigint").alias("total_hits"),
        )
    )
