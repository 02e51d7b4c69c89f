"""Incremental (streaming) histogram quantile sketch — X179 as a
continuous pipeline (companion to incremental_kmv / incremental_cms).

Bucket counts merge by plain SUM, so like the KMV min-union (and
unlike a t-digest, whose centroid merge is order-sensitive) the
streaming state after ANY batch split is EXACTLY the batch sketch
over the union — the quantile reads are bit-identical, not
approximately close. Idempotence comes from the per-epoch
overwrite (the CMS/image-fps pattern): a foreachBatch retry rewrites
the same epoch with the same deterministic counts.

State is one row per occupied value bucket per batch — bounded by the
value DOMAIN times batch count, and compacted to the pure grid at
every read. At 100 TB the epochs become date partitions
and current_quantiles a scheduled rollup, unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.operators import sketches
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_HIST_SCHEMA = "bucket long, cnt long"


def process_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_root: str,
    batch_id: int,
    value_col: str = "value",
) -> None:
    """Bucket-count one micro-batch and write its partial histogram
    to the batch's own epoch (idempotent overwrite)."""
    idempotent_parquet_write(f"{store_root}/hist")(
        sketches.value_hist(batch, value_col), batch_id
    )


def stored_hist(spark: SparkSession, store_root: str) -> DataFrame:
    """The merged (bucket, cnt) sketch over every batch so far."""
    return (
        read_epochs(spark, f"{store_root}/hist", _HIST_SCHEMA)
        .groupBy("bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def current_quantiles(spark: SparkSession, store_root: str) -> DataFrame:
    """Quantile estimates over ALL values seen so far — EXACTLY the
    batch operator on the union (SUM-mergeable counts)."""
    return sketches.hist_quantiles(stored_hist(spark, store_root))
