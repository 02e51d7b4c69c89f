"""Incremental (streaming) DCT-pHash near-dup grouping — X177's
streaming twin, the same deployment shape as incremental_image_dedup
(X140): fingerprints are FROZEN at ingest (pHash is deterministic
through the real decode -> canvas-normalize -> DCT path), each
micro-batch overwrites its own store epoch idempotently, and the
GROUP structure is re-derived from the merged fingerprint store
through the exact batch operator — so any batch split is
row-identical to one big batch, including retroactive rep_id
re-labeling when a smaller doc_id arrives late.

State is one 64-bit fingerprint row per document; the grouping's
quadratic term is bounded by DISTINCT fingerprints per band value.
At 100 TB the fps store becomes a date-partitioned table and
current_groups a scheduled rollup, unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_spark.operators import multimodal
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_FP_SCHEMA = (
    "doc_id long, decode_ok boolean, phash_hex string, phash_bytes array<int>"
)


def process_batch(
    spark: SparkSession,
    batch_blobs: DataFrame,
    store_root: str,
    batch_id: int,
) -> None:
    """pHash one micro-batch of (doc_id, blob) rows through the real
    decode/DCT path and write the fingerprints to the batch's own
    epoch. Replay-safe: hashing is deterministic and the write is a
    per-epoch overwrite."""
    idempotent_parquet_write(f"{store_root}/fps")(
        multimodal.image_phash(batch_blobs).select(
            "doc_id", "decode_ok", "phash_hex", "phash_bytes"
        ),
        batch_id,
    )


def stored_fingerprints(spark: SparkSession, store_root: str) -> DataFrame:
    """Every fingerprint ingested so far."""
    return read_epochs(spark, f"{store_root}/fps", _FP_SCHEMA)


def current_groups(
    spark: SparkSession, store_root: str, max_hamming: int = 2
) -> DataFrame:
    """Current pHash near-dup assignment over ALL documents seen so
    far — identical to the batch operator on the same fingerprint
    relation (streaming == batch after any split)."""
    return multimodal.image_phash_near_dup_groups(
        stored_fingerprints(spark, store_root), max_hamming=max_hamming
    )
