"""Incremental (streaming) event transition matrix — X163 as a
continuous pipeline, and the family's ORDER-SENSITIVE member: unlike
the co-occurrence twins, a transition pair can SPAN micro-batches
(the user's previous event arrived in an earlier batch), so the state
is not just a sum-merged count table — it also needs each user's
FRONTIER (last event seen).

Exactly-once design without any engine-managed state store:

- ``deltas/epoch=<id>``: the batch's pair-count delta — the in-batch
  consecutive pairs PLUS the bridge pair from the stored frontier to
  the batch's first event per user. Per-epoch idempotent overwrite.
- ``frontier/epoch=<id>``: each user's last (ts_us, event_id,
  event_type) within the batch; the frontier AS OF batch k is the
  latest row per user over the epochs before k. Reading only earlier
  epochs (never a mutable 'live' frontier) is what makes a
  foreachBatch REPLAY of batch k recompute byte-identical outputs:
  the inputs of batch k are immutable once batch k-1 committed.

Contract: events arrive in (ts, event_id) order per user across
batches (the source's per-key ordering guarantee — Kafka per
partition). Out-of-order arrivals belong to a watermarked variant;
this module states the in-order contract rather than silently
emitting wrong pairs.

:func:`current_matrix` sum-merges the immutable deltas — pair counts
ARE mergeable once the bridge pairs are materialized per batch — and
equals the batch operator over the union of all batches (asserted,
including a user stream split mid-way). Scale: frontier is one row
per user per batch the user appears in, deltas are |types|² per
batch; the only corpus-sized work per batch is the batch's own
window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_spark.operators.relational import transition_counts
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_FRONTIER_SCHEMA = "user_id long, ts_us long, event_id long, event_type string"
_DELTA_SCHEMA = "from_type string, to_type string, n long"


def _last_per_user(ev: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts_us", "event_id", "event_type")
    )


def process_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_root: str,
    batch_id: int,
) -> None:
    """Emit one micro-batch's pair delta (in-batch pairs + frontier
    bridges) and advance the frontier. Both writes are per-epoch
    idempotent overwrites derived from the frontier of the epochs
    before ``batch_id``, so replays are exact."""
    ev = batch.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts_us").cast("long").alias("ts_us"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("event_type").alias("event_type"),
    )
    prev = _last_per_user(
        read_epochs(
            spark, f"{store_root}/frontier", _FRONTIER_SCHEMA, before=batch_id
        )
    )
    aug = prev.unionByName(ev)
    # the frontier is a single row per user, so pairs over the
    # augmented stream are exactly: bridge (frontier -> first batch
    # event) + in-batch consecutive pairs — nothing is re-emitted
    delta = transition_counts(aug).select(
        "from_type", "to_type", F.col("n").cast("long").alias("n")
    )
    idempotent_parquet_write(f"{store_root}/deltas")(delta, batch_id)
    idempotent_parquet_write(f"{store_root}/frontier")(
        _last_per_user(ev), batch_id
    )


def current_matrix(spark: SparkSession, store_root: str) -> DataFrame:
    """(from_type, to_type, n) over everything ingested so far:
    sum-merge of the immutable per-batch deltas."""
    return (
        read_epochs(spark, f"{store_root}/deltas", _DELTA_SCHEMA)
        .groupBy("from_type", "to_type")
        .agg(F.sum("n").cast("long").alias("n"))
    )
