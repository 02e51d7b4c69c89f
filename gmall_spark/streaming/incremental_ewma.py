"""Incremental (streaming) EWMA forecasting — X161 as a continuous
pipeline. The decomposition is the point: the EWMA fold itself is
order-sensitive and NOT mergeable, but the (type, day) COUNT rollup
underneath it is plain addition — so state is the sum-merged day
grid (per-epoch deltas, idempotent overwrite: a replayed batch
overwrites its own epoch with identical counts), and the forecast RE-DERIVES
by folding the merged series through the batch query's own function
(behavior_analytics.ewma_forecast). Consequences the tests pin:

- streaming == batch EXACTLY after any split (same merged day grid
  ⇒ same fold, bit for bit);
- RETROACTIVE smoothing: a late event landing on an OLD day changes
  that day's count, and the re-derived fold propagates the change
  through every later day's smoothed value — the correction a
  store-the-running-s design can never make.

Scale: state is the day grid per type (bounded by the calendar, not
the corpus); each batch contributes one tiny delta; the fold runs
over the grid only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.queries_llm.behavior_analytics import (
    ewma_day_counts,
    ewma_forecast,
)
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_DELTA_SCHEMA = "event_type string, d date, cnt long"


def process_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_root: str,
    batch_id: int,
) -> None:
    """Write one micro-batch's (type, day) count delta —
    behavior_analytics.ewma_day_counts, the batch query's own rollup —
    to the batch's own epoch (idempotent overwrite, replay-safe)."""
    idempotent_parquet_write(f"{store_root}/days")(
        ewma_day_counts(batch), batch_id
    )


def merged_days(spark: SparkSession, store_root: str) -> DataFrame:
    return (
        read_epochs(spark, f"{store_root}/days", _DELTA_SCHEMA)
        .groupBy("event_type", "d")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def current_forecast(spark: SparkSession, store_root: str) -> DataFrame:
    """(event_type, last_day, n_days, last_count, ewma_forecast) over
    everything ingested so far: behavior_analytics.ewma_forecast, the
    batch query's own fold, over the merged day grid."""
    return ewma_forecast(merged_days(spark, store_root))
