"""Incremental (streaming) Bloom filter: a continuously-maintained
decontamination pre-filter.

Extends operators/bloom.py (SURVEY X71) the way incremental_dedup
extends the batch MinHash pipeline (X19): as reference/benchmark
documents keep arriving, each micro-batch's keys are hashed into
(word_idx, word) bit rows and OR-merged into a persisted word store —
``bit_or`` is associative and commutative, so after ANY batch split
the merged filter is bit-for-bit identical to ``bloom_build`` over the union
of all batches (asserted by tests/test_streaming.py). Training
pipelines then probe the current store with ``bloom_probe``
unchanged.

Each batch writes only its own delta — its ``bloom_build`` rows,
at most bits/32 (2048 at the default 65536 bits) regardless of batch
size — to its ``epoch=<batch_id>`` partition of ``<store>/words``,
and :func:`current_filter` ``bit_or``s the epochs per ``word_idx``. A
replayed batch overwrites its own epoch, so a replay changes nothing.
State grows by at most bits/32 rows per epoch, just as the CMS
twin's does.

Wire :func:`process_batch` into ``runner.run_foreach_batch`` exactly
like incremental_dedup; a Kafka source swaps in upstream unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_spark.operators import bloom
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_STORE_SCHEMA = T.StructType(
    [
        T.StructField("word_idx", T.LongType()),
        T.StructField("word", T.LongType()),
    ]
)


def process_batch(
    spark: SparkSession,
    batch: DataFrame,
    key_col: str,
    store_dir: str,
    batch_id: int,
    n_hashes: int = bloom.BLOOM_HASHES,
    bits: int = bloom.BLOOM_BITS,
) -> None:
    """Write one micro-batch's filter words as its epoch delta."""
    idempotent_parquet_write(f"{store_dir}/words")(
        bloom.bloom_build(batch, key_col, n_hashes, bits), batch_id
    )


def current_filter(spark: SparkSession, store_dir: str) -> DataFrame:
    """The filter as of the last completed batch — feed straight into
    ``bloom.bloom_probe``."""
    return (
        read_epochs(spark, f"{store_dir}/words", _STORE_SCHEMA)
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )
