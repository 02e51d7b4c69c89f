"""Incremental (streaming) count-min sketch: continuously-maintained
heavy-hitter counts.

The CMS companion to streaming/incremental_bloom.py: each
micro-batch's items are hashed into (lane, col, cell_ct) partial
counts written as the batch's own ``epoch=<batch_id>`` delta, and the
read SUM-merges the deltas. Addition is associative and commutative,
so after ANY batch split the merged cells equal ``cms_build`` over the
union of all batches cell-for-cell (asserted by
tests/test_streaming.py) — and estimates probed against them are
therefore identical too. A replayed batch overwrites its own epoch,
so it is counted once. Each delta is O(d·w) rows regardless of batch
size; the Bloom and KMV twins keep their deltas the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_spark.operators import sketches
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_STORE_SCHEMA = T.StructType(
    [
        T.StructField("lane", T.IntegerType()),
        T.StructField("col", T.LongType()),
        T.StructField("cell_ct", T.LongType()),
    ]
)


def process_batch(
    spark: SparkSession,
    batch: DataFrame,
    key_col: str,
    store_dir: str,
    batch_id: int,
    depth: int = sketches.CMS_DEPTH,
    width: int = sketches.CMS_WIDTH,
) -> None:
    """Write one micro-batch's cell counts as its epoch delta."""
    idempotent_parquet_write(f"{store_dir}/cells")(
        sketches.cms_build(batch, key_col, depth, width).select(
            F.col("lane").cast("int").alias("lane"),
            F.col("col").cast("bigint").alias("col"),
            F.col("cell_ct").cast("bigint").alias("cell_ct"),
        ),
        batch_id,
    )


def current_sketch(spark: SparkSession, store_dir: str) -> DataFrame:
    """The sketch as of the last completed batch — feed straight into
    ``sketches.cms_estimate``."""
    return (
        read_epochs(spark, f"{store_dir}/cells", _STORE_SCHEMA)
        .groupBy("lane", "col")
        .agg(F.sum("cell_ct").cast("bigint").alias("cell_ct"))
    )
