"""Incremental (streaming) audio-fingerprint near-dup grouping —
X197's streaming twin, the incremental_image_phash (X177) deployment
shape: landmark fingerprints are FROZEN at ingest (the decode ->
rfft -> pair-hash chain is deterministic), each micro-batch
overwrites its own ``epoch=<batch_id>`` partition idempotently, and the GROUP structure
is re-derived from the merged fingerprint store through the exact
batch operator — so any batch split is row-identical to one big
batch, including retroactive rep_id re-labeling when a smaller
doc_id arrives late.

State is O(frames) integers per document; the grouping's quadratic
term is bounded by distinct FINGERPRINTS per pair-hash value. At
100 TB the store becomes a date-partitioned table and current_groups
a scheduled rollup, unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_spark.operators import multimodal
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_FP_SCHEMA = (
    "doc_id long, decode_ok boolean, n_frames long, "
    "pair_hashes array<long>, fp_hex string"
)


def process_batch(
    spark: SparkSession,
    batch_blobs: DataFrame,
    store_root: str,
    batch_id: int,
) -> None:
    """Fingerprint one micro-batch of (doc_id, blob) rows through the
    real decode/FFT path and write the landmarks to the batch's own
    epoch. Replay-safe: hashing is deterministic and the write is a
    per-epoch overwrite."""
    idempotent_parquet_write(f"{store_root}/fps")(
        multimodal.wav_peak_pair_fingerprints(batch_blobs).select(
            "doc_id", "decode_ok", "n_frames", "pair_hashes", "fp_hex"
        ),
        batch_id,
    )


def stored_fingerprints(spark: SparkSession, store_root: str) -> DataFrame:
    """Every fingerprint ingested so far."""
    return read_epochs(spark, f"{store_root}/fps", _FP_SCHEMA)


def current_groups(spark: SparkSession, store_root: str) -> DataFrame:
    """Current near-dup assignment over ALL audio seen so far —
    identical to the batch operator on the same fingerprint relation
    (streaming == batch after any split)."""
    return multimodal.audio_near_dup_groups(
        stored_fingerprints(spark, store_root)
    )
