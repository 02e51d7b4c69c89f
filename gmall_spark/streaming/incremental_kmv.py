"""Incremental (streaming) KMV distinct sketch — continuously-
maintained distinct-count estimation (the X145 statistic as a
pipeline, companion to incremental_cms / incremental_bloom).

KMV merges by MIN-UNION: the K smallest of (store ∪ batch's K
smallest) equals the K smallest of every value ever ingested, because
any globally-small hash is small within its own batch too. Two
consequences the tests pin:

- **streaming == batch EXACTLY** (not approximately): after any batch
  split the stored sketch is row-identical to ``kmv_sketch`` over the
  union of all batches, so estimates match to the bit;
- **replay-safe for free**: min-union is idempotent, so a foreachBatch
  retry that re-merges the same batch leaves the store unchanged — no
  batch-id bookkeeping needed (unlike the CMS store, whose SUM-merge
  relies on the per-epoch overwrite for idempotence).

The store rewrite is O(K) rows regardless of ingested volume; the
swap is the atomic pointer rename of :mod:`gmall_spark.streaming
.store` (crash recovery included). At 100 TB each executor-side batch
contributes at most K rows to the merge — the shuffle the sketch
exists to avoid never happens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gmall_spark.operators import sketches
from gmall_spark.streaming import store as _store

_STORE_SCHEMA = T.StructType([T.StructField("h", T.LongType())])


def process_batch(
    spark: SparkSession,
    batch: DataFrame,
    key_col: str,
    store_dir: str,
    k: int = sketches.KMV_K,
) -> None:
    """Min-union one micro-batch's K smallest key hashes into the
    persisted sketch."""
    delta = sketches.kmv_sketch(sketches.kmv_hashes(batch, key_col), k)
    merged = sketches.kmv_sketch(
        _store.read_or_empty(spark, store_dir, _STORE_SCHEMA)
        .unionByName(delta)
        .distinct(),
        k,
    )
    _store.swap_write(merged, store_dir)


def current_sketch(spark: SparkSession, store_dir: str) -> DataFrame:
    """The sketch as of the last completed batch."""
    return _store.read_or_empty(spark, store_dir, _STORE_SCHEMA)


def distinct_estimate(
    spark: SparkSession, store_dir: str, k: int = sketches.KMV_K
) -> DataFrame:
    """One-row (n_sketch, est) over everything ingested so far —
    bit-identical to the batch estimator over the union of batches."""
    return sketches.kmv_distinct_estimate(current_sketch(spark, store_dir), k)
