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

Store layout at scale: epoch-partitioned parquet keyed by the join key;
compact with ``operators.scale.write_bucketed`` (bucket by the key)
so the per-batch probe join is exchange-free on the store side —
identical reasoning to incremental_dedup.BucketedStore. The store
holds FULL version history (needed for late probes); a TTL compaction
dropping versions older than the watermark minus the maximum probe
lateness bounds it.
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


class BucketedVersionStore:
    """The 100 TB store layout (X16 composed in, as for
    incremental_dedup.BucketedStore): the version history is a
    catalog table BUCKETED by the join key, so the store side of the
    per-batch probe join is exchange-free — only the (small) probe
    batch shuffles. The probe against a bucketed store uses the
    join-then-argmax as-of formulation (equi-join on the bucketed
    key + max_by over versions at-or-before the probe ts) instead of
    union+window: a union would break the store's co-partitioning.
    Fan-out is versions-per-key, bounded by TTL compaction."""

    def __init__(self, table: str, key: str, n_buckets: int = 8):
        self.table = table
        self.key = key
        self.n_buckets = n_buckets

    def read(self, spark: SparkSession, schema: T.StructType) -> DataFrame:
        if spark.catalog.tableExists(self.table):
            return spark.table(self.table)
        return spark.createDataFrame([], schema)

    def append(self, versions: DataFrame) -> None:
        versions.write.mode("append").format("parquet").bucketBy(
            self.n_buckets, self.key
        ).saveAsTable(self.table)

    def drop(self, spark: SparkSession) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {self.table}")


def process_batch_bucketed(
    spark: SparkSession,
    left_batch: DataFrame,
    right_batch: DataFrame,
    store: BucketedVersionStore,
    key: str,
    ts: str,
    schema: T.StructType,
) -> DataFrame:
    """As-of join one micro-batch against a bucketed version store.

    Appends the batch's versions FIRST (so probes see same-batch
    versions, matching :func:`process_batch`), then probes with
    join-then-argmax: left ⟕ versions on the bucketed key with
    ``version.ts <= probe.ts``, ``max_by`` picking the latest version
    (ties: greatest payload — the asof_join_backward rule). Left rows
    must be distinct. Output schema matches asof_join_backward."""
    import pyspark.sql.functions as F

    store.append(right_batch.select(*[f.name for f in schema.fields]))
    versions = store.read(spark, schema)
    r_cols = [f.name for f in schema.fields if f.name not in (key, ts)]
    r_ts = f"{ts}_right"
    v = versions.select(
        F.col(key).alias("__vk"),
        F.struct(F.col(ts).alias(r_ts), *r_cols).alias("__ver"),
    )
    l_cols = left_batch.columns
    joined = left_batch.join(
        v,
        (left_batch[key] == v["__vk"]) & (v[f"__ver.{r_ts}"] <= left_batch[ts]),
        "left_outer",
    )
    best = joined.groupBy(*l_cols).agg(F.max_by("__ver", "__ver").alias("__ver"))
    return best.select(
        key,
        ts,
        *[c for c in l_cols if c not in (key, ts)],
        F.col(f"__ver.{r_ts}").alias(r_ts),
        *[F.col(f"__ver.{c}").alias(c) for c in r_cols],
    )


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
