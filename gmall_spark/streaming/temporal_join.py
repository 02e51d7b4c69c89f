"""Incremental (streaming) backward as-of join — the event-time
temporal join (Flink's ``FOR SYSTEM_TIME AS OF``, ref
``DwdTradeOrderDetail``'s lookup-join family at event-time grain;
SURVEY J3/X34 streaming twin).

Each micro-batch of LEFT (probe) rows is as-of joined against the
union of this batch's RIGHT (build/version) rows and a PERSISTED
right-history store (its epochs before this batch), then the batch's
right rows are written to its own epoch of the store. A probe
therefore sees every version that arrived in or before its own
micro-batch — processing-time-bounded completeness,
the same contract Flink's temporal join has under a perfect
watermark when versions do not arrive after probes of later event
time (the condition the batch-equality test constructs by splitting
the input in event-time order).

Store layout: ``<store>/versions/epoch=<batch_id>``, the one epoch
layout of :mod:`gmall_spark.streaming.store`; a replayed batch reads
the same earlier epochs and overwrites its own. The store holds FULL
version history (needed for late probes); a TTL compaction dropping
versions older than the watermark minus the maximum probe lateness
would bound it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gmall_spark.operators.relational import asof_join_backward
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs


class VersionStore:
    """Epoch-partitioned right-side version history."""

    def __init__(self, store_dir: str, schema: T.StructType):
        self.store_dir = store_dir
        self.schema = schema

    def read(self, spark: SparkSession, before: int | None = None) -> DataFrame:
        return read_epochs(spark, f"{self.store_dir}/versions", self.schema, before)

    def write(self, versions: DataFrame, batch_id: int) -> None:
        idempotent_parquet_write(f"{self.store_dir}/versions")(versions, batch_id)


def process_batch(
    spark: SparkSession,
    left_batch: DataFrame,
    right_batch: DataFrame,
    store: VersionStore,
    key: str,
    ts: str,
    batch_id: int,
) -> DataFrame:
    """As-of join one micro-batch: probe ``left_batch`` against the
    store's epochs before ``batch_id`` ∪ ``right_batch``, then write
    ``right_batch`` to the store's ``batch_id`` epoch. Returns the
    joined rows for this batch (the caller sinks them); the store
    side reads a fixed epoch range, so evaluating them after the
    write, or after a replay, gives the same rows. Deterministic:
    ties resolve exactly as the batch operator (max ts, then greatest
    payload)."""
    versions = right_batch.select(*[f.name for f in store.schema.fields])
    right_all = store.read(spark, before=batch_id).unionByName(versions)
    store.write(versions, batch_id)
    return asof_join_backward(left_batch, right_all, key, ts)
