"""Incremental corpus fingerprint — X191 as a continuous pipeline
(the X179 SUM-merge equality class): all four statistics (doc count,
char volume, content/id hash sums) are plain integer sums, so the
stored per-batch partials merge EXACTLY and streaming == batch after
any split, bit for bit. Idempotence via the per-epoch
overwrite. The running fingerprint is the live 'what data have I
ingested?' stamp an ingest service exposes — two pipelines that
agree on it hold the same corpus with overwhelming probability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.queries_llm.packing_release import corpus_fingerprint
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_FP_SCHEMA = (
    "n_docs long, n_chars long, content_sum decimal(38,0), id_sum decimal(38,0)"
)


def process_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    store_root: str,
    batch_id: int,
) -> None:
    """Reduce one micro-batch of (doc_id, text) rows to its partial
    fingerprint row with packing_release.corpus_fingerprint, the
    batch query's own reduction (idempotent overwrite)."""
    idempotent_parquet_write(f"{store_root}/fp")(
        corpus_fingerprint(batch_docs), batch_id
    )


def current_fingerprint(spark: SparkSession, store_root: str) -> DataFrame:
    """The fingerprint over every batch so far — EXACTLY the batch
    operator on the union (integer sums merge)."""
    return read_epochs(spark, f"{store_root}/fp", _FP_SCHEMA).agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.sum("content_sum").cast("decimal(38,0)").alias("content_sum"),
        F.sum("id_sum").cast("decimal(38,0)").alias("id_sum"),
    )
