"""Incremental HTML-extraction acceptance rollup.

The streaming twin of X216 (queries_llm.text_html_extract_rollup) —
the X179/X213 SUM-merge equality class with a MIN/MAX twist: doc and
char totals merge by integer addition, and the per-doc text-share
envelope merges by min/max (both order-free), so the corpus-so-far
view after any batch split is EXACTLY the batch rollup. The
operational shape: a WET ingest job publishes the running extraction
report per batch instead of re-scanning the crawl.

State: one tiny parquet row per batch epoch (n_docs, total_raw_chars,
total_text_chars, min_share_raw, max_share_raw) — shares ride RAW
(un-rounded is impossible here: the per-row share is already a
deterministic double both engines compute identically from exact
integers; we store the per-batch min/max of those and re-round only
in the merged view, exactly as the batch query rounds its min/max).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.operators import markup
from gmall_spark.queries_llm.extraction_tiers import (
    html_rollup_partial,
    html_rollup_view,
)
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs


def process_batch(
    spark: SparkSession, batch_docs: DataFrame, store_dir: str, batch_id: int
) -> DataFrame:
    """Extract one micro-batch and write its X216 partial
    (extraction_tiers.html_rollup_partial) to its epoch."""
    roll = html_rollup_partial(markup.html_extract(markup.synth_html(batch_docs)))
    idempotent_parquet_write(f"{store_dir}/html_rollup")(roll, batch_id)
    return roll


def current_rollup(spark: SparkSession, store_dir: str) -> DataFrame:
    """The merged corpus-so-far view — column-identical to the batch
    X216 output on the union of everything ingested (sums add, the
    envelope is min-of-mins / max-of-maxes, and the batch query's
    html_rollup_view divides and rounds once at the end)."""
    return html_rollup_view(
        read_epochs(spark, f"{store_dir}/html_rollup").agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("total_raw_chars").cast("bigint").alias("total_raw_chars"),
            F.sum("total_text_chars").cast("bigint").alias("total_text_chars"),
            F.min("min_share_raw").alias("min_share_raw"),
            F.max("max_share_raw").alias("max_share_raw"),
        )
    )
