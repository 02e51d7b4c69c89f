"""Incremental registered-domain rollup.

The streaming twin of X226 (queries_llm.web_domain_rollup) — the
agg-table-as-state class (X200 skip-gram discipline): the batch
rollup's distinct-counts (hosts, canonical urls, langs) are NOT
SUM-mergeable at domain grain, so the maintained state lives one
grain FINER, at (registered_domain, host, url_canonical, lang) with
additive doc/char counts — integer addition commutes, so the state
table after any ingest split equals the same aggregate over the full
corpus, and the domain view (a re-group of the state) equals the
batch query EXACTLY. State size is bounded by distinct provenance
rows, the same cardinality the batch rollup shuffles — no blowup.

Operationally this is the crawl-monitoring shape: per-domain page
and volume counters advance as fetches land, and a domain crossing
its cap (docs or bytes) is visible in the merged view at the batch
that crossed it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.operators import weburl
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs


def batch_state(batch_docs: DataFrame) -> DataFrame:
    """The per-batch fine-grain increment: weburl.synth_url +
    canonicalize, the operators the batch query runs, aggregated to
    the state grain."""
    can = weburl.canonicalize(
        weburl.synth_url(batch_docs), passthrough=("n_chars", "lang")
    )
    return can.groupBy(
        "registered_domain", "host", "url_canonical", "lang"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


def process_batch(
    spark: SparkSession, batch_docs: DataFrame, store_dir: str, batch_id: int
) -> DataFrame:
    """Ingest one micro-batch: write its fine-grain counts to its
    epoch; returns the batch increment (what this batch added per
    provenance row)."""
    inc = batch_state(batch_docs)
    idempotent_parquet_write(f"{store_dir}/domain_state")(inc, batch_id)
    return inc


def current_rollup(spark: SparkSession, store_dir: str) -> DataFrame:
    """The corpus-so-far domain view: re-group the state table to the
    X226 output — bit-equal to the batch query on everything
    ingested (sums add; distincts count state rows, which the
    finer grain keeps exact)."""
    return (
        read_epochs(spark, f"{store_dir}/domain_state")
        .groupBy("registered_domain")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.countDistinct("host").cast("bigint").alias("n_hosts"),
            F.countDistinct("url_canonical").cast("bigint").alias("n_urls"),
            F.sum("total_chars").cast("bigint").alias("total_chars"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
    )
