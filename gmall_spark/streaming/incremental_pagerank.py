"""Incremental link-graph centrality with a rank-change log.

The streaming twin of X237 (queries_llm.web_host_pagerank) — the
X185/X198/X210 RE-DERIVE class: the maintained state (the set of
pages seen, hence the edge list) merges by union, but the derived
artifact (the rank vector) is NOT — a single new page adds edges
whose mass flows through the whole graph, so ranks re-derive over the
merged edge set and the twin ships the CHANGE LOG (every node whose
fixed-point rank moved) instead of pretending the old ranks still
hold. Operationally this is the crawl-frontier update: a newly
discovered page re-prioritizes pages that were already ranked.

Batch-equals-streaming: pages-seen after any ingest split equals the
batch DISTINCT, the edges come from web_tier.link_edges and the ranks
from operators/graph.pagerank (BIGINT div, no float accumulation) —
the batch query's own functions — so the re-derived view is bit-equal
to the batch query.

Scale shape: state grows at page grain (bounded by distinct
pages); each re-derivation shuffles only (node, rank) pairs; the
before/after diff joins two node-sized tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_spark.operators import graph
from gmall_spark.queries_llm.web_tier import link_edges
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_PAGES_SCHEMA = T.StructType([T.StructField("u", T.LongType())])


def current_ranks(
    spark: SparkSession, store_dir: str, before: int | None = None
) -> DataFrame:
    """Re-derive ranks over every page seen so far (in the batches
    before ``before``, all by default) — bit-equal to the batch X237
    rank columns on the union of everything ingested."""
    pages = read_epochs(
        spark, f"{store_dir}/pages_seen", _PAGES_SCHEMA, before
    ).distinct()
    return graph.pagerank(link_edges(pages))


def process_batch(
    spark: SparkSession, batch_docs: DataFrame, store_dir: str, batch_id: int
) -> DataFrame:
    """Ingest one micro-batch of documents; returns the rank-change
    log: every node whose rank_micro differs from the previous
    derivation (new nodes report old_rank_micro NULL)."""
    before = current_ranks(spark, store_dir, before=batch_id).select(
        "node_id", F.col("rank_micro").alias("old_rank_micro")
    )
    idempotent_parquet_write(f"{store_dir}/pages_seen")(
        batch_docs.select(
            (F.col("doc_id") % 40).cast("long").alias("u")
        ).distinct(),
        batch_id,
    )
    after = current_ranks(spark, store_dir, before=batch_id + 1).select(
        "node_id", F.col("rank_micro").alias("new_rank_micro")
    )
    return (
        after.join(before, "node_id", "left")
        .filter(
            F.col("old_rank_micro").isNull()
            | (F.col("old_rank_micro") != F.col("new_rank_micro"))
        )
        .select("node_id", "old_rank_micro", "new_rank_micro")
    )
