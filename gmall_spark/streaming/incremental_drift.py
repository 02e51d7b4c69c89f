"""Incremental (streaming) value-distribution drift monitor — X183 as
a continuous pipeline. The UNDERLYING state, (day, bucket) counts, is
SUM-mergeable (the X179 equality class), so the store is per-epoch
partial grids merged at read; the chi-square terms themselves are NOT
mergeable — the reference/current split point is the global day-span
midpoint, which a late day can MOVE — so the report re-derives from
the merged grid (the X156/X168 class): after any batch split the
emitted table is row-identical to the batch operator over the union,
including retroactive re-splits when a new day extends the span.

State is one count per (day, bucket) cell — bounded by span x value
domain, not event volume. At 100 TB the grid store is a
date-partitioned rollup table and the drift read a scheduled report,
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.queries_llm.distribution_stats import (
    drift_cells,
    drift_terms,
    drift_windows,
)
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_GRID_SCHEMA = "d date, bucket long, cnt long"


def process_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_root: str,
    batch_id: int,
) -> None:
    """Reduce one micro-batch to its (day, bucket) partial grid over
    distribution_stats.drift_cells, the batch query's own bucketing,
    and write it to the batch's own epoch (idempotent overwrite)."""
    idempotent_parquet_write(f"{store_root}/grid")(
        drift_cells(batch)
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")),
        batch_id,
    )


def current_drift(spark: SparkSession, store_root: str) -> DataFrame:
    """The X183 report over ALL events seen so far — identical to the
    batch operator on the union. The merged grid runs through the
    batch query's own drift_windows and drift_terms: the split
    midpoint re-derives from the merged grid's own span, so late days
    retroactively re-split the windows."""
    g = (
        read_epochs(spark, f"{store_root}/grid", _GRID_SCHEMA)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    agg = drift_windows(g, "bucket", "cnt").groupBy("bucket").agg(
        F.sum(F.col("cnt") * F.col("is_ref")).alias("ref_cnt"),
        F.sum(F.col("cnt") * (1 - F.col("is_ref"))).alias("cur_cnt"),
    )
    return drift_terms(agg)
