"""Incremental (streaming) KMV distinct sketch — continuously-
maintained distinct-count estimation (the X145 statistic as a
pipeline, companion to incremental_cms / incremental_bloom).

KMV merges by MIN-UNION: the K smallest of the union of every
batch's K smallest equals the K smallest of every value ever
ingested, because any globally-small hash is small within its own
batch too. Two
consequences the tests pin:

- **streaming == batch EXACTLY** (not approximately): after any batch
  split the merged sketch is row-identical to ``kmv_sketch`` over the
  union of all batches, so estimates match to the bit;
- **replay-safe**: each batch writes only its own K smallest hashes
  to its ``epoch=<batch_id>`` partition of ``<store>/hashes``, and a
  replay overwrites that epoch; :func:`current_sketch` re-sketches the
  distinct union of the epochs to K.

Each epoch holds at most K rows regardless of ingested volume, so
state grows by at most K rows per epoch, as the CMS twin's does. At
100 TB each executor-side batch contributes at most K rows to the
merge — the shuffle the sketch exists to avoid never happens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gmall_spark.operators import sketches
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_STORE_SCHEMA = T.StructType([T.StructField("h", T.LongType())])


def process_batch(
    spark: SparkSession,
    batch: DataFrame,
    key_col: str,
    store_dir: str,
    batch_id: int,
    k: int = sketches.KMV_K,
) -> None:
    """Write one micro-batch's K smallest key hashes as its epoch
    delta."""
    idempotent_parquet_write(f"{store_dir}/hashes")(
        sketches.kmv_sketch(sketches.kmv_hashes(batch, key_col), k), batch_id
    )


def current_sketch(
    spark: SparkSession, store_dir: str, k: int = sketches.KMV_K
) -> DataFrame:
    """The sketch as of the last completed batch."""
    return sketches.kmv_sketch(
        read_epochs(spark, f"{store_dir}/hashes", _STORE_SCHEMA).distinct(), k
    )


def distinct_estimate(
    spark: SparkSession, store_dir: str, k: int = sketches.KMV_K
) -> DataFrame:
    """One-row (n_sketch, est) over everything ingested so far —
    bit-identical to the batch estimator over the union of batches."""
    return sketches.kmv_distinct_estimate(current_sketch(spark, store_dir, k), k)
