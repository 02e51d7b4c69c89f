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

from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_PAIR_SCHEMA = "w_a string, w_b string, pair_cnt long"
_UNI_SCHEMA = "w string, cnt long"


def process_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    store_root: str,
    batch_id: int,
    window: int | None = None,
) -> None:
    """Count one micro-batch of (doc_id, text) rows: raw in-window
    pair counts (the X184 per-row array pairing — never a self-join)
    and unigram counts, each to the batch's own epoch."""
    from gmall_spark.queries_llm.distribution_stats import SKIPGRAM_WINDOW

    win = SKIPGRAM_WINDOW if window is None else window
    docs = batch_docs.selectExpr(
        r"filter(split(lower(text), '[^a-z0-9]+'), x -> x != '') AS w"
    )
    pairs = (
        docs.selectExpr(
            f"""explode(flatten(transform(w, (x, i) ->
                  transform(slice(w, i + 2, {win}),
                            y -> struct(x AS w_a, y AS w_b))))) AS pr"""
        )
        .select("pr.w_a", "pr.w_b")
        .groupBy("w_a", "w_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_cnt"))
    )
    uni = (
        docs.select(F.explode("w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    idempotent_parquet_write(f"{store_root}/pairs")(pairs, batch_id)
    idempotent_parquet_write(f"{store_root}/uni")(uni, batch_id)


def stored_pairs(spark: SparkSession, store_root: str) -> DataFrame:
    return read_epochs(spark, f"{store_root}/pairs", _PAIR_SCHEMA)


def stored_unigrams(spark: SparkSession, store_root: str) -> DataFrame:
    return read_epochs(spark, f"{store_root}/uni", _UNI_SCHEMA)


def current_lift(
    spark: SparkSession, store_root: str, min_pair: int | None = None
) -> DataFrame:
    """The X184 collocation report over every document seen so far —
    bit-identical to the batch operator on the union (SUM-merged
    integer counts; lift divides exact integers, one IEEE divide +
    round, so there is nothing order-sensitive to drift)."""
    from gmall_spark.queries_llm.distribution_stats import SKIPGRAM_MIN_PAIR

    mp = SKIPGRAM_MIN_PAIR if min_pair is None else min_pair
    pairs = (
        stored_pairs(spark, store_root)
        .groupBy("w_a", "w_b")
        .agg(F.sum("pair_cnt").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= mp)
    )
    uni = (
        stored_unigrams(spark, store_root)
        .groupBy("w")
        .agg(F.sum("cnt").alias("cnt"))
    )
    n = uni.agg(F.sum("cnt").alias("n_tok"))
    ua = uni.select(F.col("w").alias("w_a"), F.col("cnt").alias("cnt_a"))
    ub = uni.select(F.col("w").alias("w_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(F.broadcast(ua), "w_a")
        .join(F.broadcast(ub), "w_b")
        .crossJoin(F.broadcast(n))
        .select(
            "w_a",
            "w_b",
            F.col("pair_cnt").cast("bigint").alias("pair_cnt"),
            F.col("cnt_a").cast("bigint").alias("cnt_a"),
            F.col("cnt_b").cast("bigint").alias("cnt_b"),
            F.round(
                F.col("pair_cnt") * 1.0 * F.col("n_tok")
                / (F.col("cnt_a") * F.col("cnt_b")),
                6,
            ).alias("lift"),
        )
    )
