"""Incremental (streaming) embedding-table health audit — X186's twin
in the X179 SUM-mergeable equality class.

X186 deliberately reports ONLY order-independent statistics (min/max
envelopes and integer counts — never a float SUM), which makes every
one of them mergeable: per-dimension min-of-mins / max-of-maxes /
sum-of-zeros, and corpus counters summed. The one non-SUM field,
n_widths (distinct embedding widths), merges exactly too because the
per-batch state is keyed BY width — the distinct count happens at the
read over the merged keys. So streaming state after ANY batch split
is EXACTLY the batch audit over the union, bit-identical.

Idempotence comes from the per-epoch overwrite (the value-hist
pattern). At 100 TB the epochs become date partitions and
current_health a scheduled rollup, unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.queries_llm.packing_release import (
    dim_envelope,
    health_report,
    vector_flags,
)
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_DIM_SCHEMA = "dim long, dim_min double, dim_max double, zeros long"
_CORPUS_SCHEMA = (
    "width int, n_vectors long, nan_vectors long, zero_vectors long"
)


def process_batch(
    spark: SparkSession,
    batch_emb: DataFrame,
    store_root: str,
    batch_id: int,
) -> None:
    """Audit one micro-batch of (vec_id, embedding) rows: per-dim
    envelope partials and per-WIDTH corpus counters, each to the
    batch's own epoch (idempotent overwrite). The per-vector fold and
    the envelope are packing_release.vector_flags and dim_envelope,
    the batch audit's own."""
    corpus = (
        vector_flags(batch_emb)
        .groupBy("width")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum(F.when(F.col("nan_ct") > 0, 1).otherwise(0))
            .cast("long")
            .alias("nan_vectors"),
            F.sum(F.when(F.col("nonzero_ct") == 0, 1).otherwise(0))
            .cast("long")
            .alias("zero_vectors"),
        )
    )
    idempotent_parquet_write(f"{store_root}/dims")(dim_envelope(batch_emb), batch_id)
    idempotent_parquet_write(f"{store_root}/corpus")(corpus, batch_id)


def current_health(spark: SparkSession, store_root: str) -> DataFrame:
    """The X186 report over every vector seen so far — bit-identical
    to the batch audit on the union (min/max/int-count merges only)."""
    per_dim = (
        read_epochs(spark, f"{store_root}/dims", _DIM_SCHEMA)
        .groupBy("dim")
        .agg(
            F.min("dim_min").alias("dim_min"),
            F.max("dim_max").alias("dim_max"),
            F.sum("zeros").cast("bigint").alias("zeros"),
        )
    )
    corpus = read_epochs(spark, f"{store_root}/corpus", _CORPUS_SCHEMA).agg(
        F.sum("n_vectors").cast("bigint").alias("n_vectors"),
        F.countDistinct("width").cast("bigint").alias("n_widths"),
        F.sum("nan_vectors").cast("bigint").alias("nan_vectors"),
        F.sum("zero_vectors").cast("bigint").alias("zero_vectors"),
    )
    return health_report(per_dim, corpus)
