"""Incremental (streaming) skip-gram co-occurrence — X184's twin in
the X179 SUM-mergeable equality class.

Skip-gram pairs are built WITHIN documents and documents are atomic
within a micro-batch, so per-batch pair counts and unigram counts
merge by plain SUM: the streaming state after ANY batch split is
EXACTLY the batch counting pass over the union. The two subtleties
both live at the READ, not in state:

- the min-count collocation filter applies to the MERGED pair count
  (a pair below threshold in every batch can clear it in the union),
  so batches store RAW counts, unfiltered;
- the corpus token total N (lift's numerator scale) is the sum of the
  unigram counts — no separate counter to drift out of sync.

Idempotence comes from the per-epoch overwrite (the value-hist
pattern). At 100 TB the epochs become date partitions and
current_lift a scheduled rollup, unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.queries_llm.distribution_stats import (
    skipgram_lift,
    skipgram_tokens,
)
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_PAIR_SCHEMA = "w_a string, w_b string, pair_cnt long"
_UNI_SCHEMA = "w string, cnt long"


def process_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    store_root: str,
    batch_id: int,
) -> None:
    """Count one micro-batch of (doc_id, text) rows: raw in-window
    pair counts and unigram counts over
    distribution_stats.skipgram_tokens, the batch query's own
    tokenizer, each to the batch's own epoch."""
    tok, pr = skipgram_tokens(batch_docs)
    pairs = pr.groupBy("w_a", "w_b").agg(
        F.count(F.lit(1)).cast("long").alias("pair_cnt")
    )
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    idempotent_parquet_write(f"{store_root}/pairs")(pairs, batch_id)
    idempotent_parquet_write(f"{store_root}/uni")(uni, batch_id)


def current_lift(spark: SparkSession, store_root: str) -> DataFrame:
    """The X184 collocation report over every document seen so far:
    distribution_stats.skipgram_lift, the batch query's own join,
    over the SUM-merged counts — bit-identical to the batch operator
    on the union (lift divides exact integers, one IEEE divide +
    round, so there is nothing order-sensitive to drift)."""
    pairs = (
        read_epochs(spark, f"{store_root}/pairs", _PAIR_SCHEMA)
        .groupBy("w_a", "w_b")
        .agg(F.sum("pair_cnt").alias("pair_cnt"))
    )
    uni = (
        read_epochs(spark, f"{store_root}/uni", _UNI_SCHEMA)
        .groupBy("w")
        .agg(F.sum("cnt").alias("cnt"))
    )
    n = uni.agg(F.sum("cnt").alias("n_tok"))
    return skipgram_lift(pairs, uni, n)
