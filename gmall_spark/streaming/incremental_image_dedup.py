"""Incremental (streaming) image near-dup grouping — the X136 policy
as a continuous pipeline (the image twin of incremental_dedup's text
tier, same deployment shape as incremental_ppl / incremental_dsir).

Fingerprints are FROZEN at ingest: dHash is deterministic through the
real codec path (operators/multimodal.image_hashes), so a document's
fingerprint never changes after its batch — per-batch idempotent
overwrite, replay-safe under foreachBatch retries. What DOES change
is the GROUP structure: a later arrival can join an existing group
(growing its size) or bridge two fingerprints within Hamming range —
and with representative = min doc_id, an arrival carrying a smaller
id retroactively re-labels every earlier member of its group.
Re-grouping is re-derivation, never a retraction of ingested
data.

Per micro-batch:

1. hash the batch's image blobs through the REAL decode path;
2. write (doc_id, decode_ok, dhash_hex, dhash_bytes) to the batch's
   own epoch (``fps/epoch=<id>`` — an idempotent overwrite).

:func:`current_groups` derives the group assignment from the MERGED
fingerprint store through the exact batch operator
(multimodal.image_near_dup_groups), so after ANY batch split the
result is row-identical to hashing-and-grouping all documents seen so
far in one batch — asserted by tests, including a planted fixture
where batch 2 shrinks an earlier doc's rep_id and grows its group.

Scale shape: state is ONE row per document (64-bit fingerprint +
bytes) — the minimum any grouping needs; the exact tier collapses
identical fingerprints in a groupBy before any join, and the banded
near tier is quadratic only in DISTINCT fingerprints per band value
(the batch operator's own bound). At 100 TB the fps store becomes a
date-partitioned table and current_groups a scheduled rollup — the
layout carries over unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_spark.operators import multimodal
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_FP_SCHEMA = (
    "doc_id long, decode_ok boolean, dhash_hex string, dhash_bytes array<int>"
)


def process_batch(
    spark: SparkSession,
    batch_blobs: DataFrame,
    store_root: str,
    batch_id: int,
) -> None:
    """Hash one micro-batch of (doc_id, blob) rows through the real
    decode path and write the fingerprints to the batch's own
    epoch. Replay-safe: hashing is deterministic and the write is a
    per-epoch overwrite."""
    idempotent_parquet_write(f"{store_root}/fps")(
        multimodal.image_hashes(batch_blobs).select(
            "doc_id", "decode_ok", "dhash_hex", "dhash_bytes"
        ),
        batch_id,
    )


def stored_fingerprints(spark: SparkSession, store_root: str) -> DataFrame:
    """Every fingerprint ingested so far."""
    return read_epochs(spark, f"{store_root}/fps", _FP_SCHEMA)


def current_groups(
    spark: SparkSession, store_root: str, max_hamming: int = 2
) -> DataFrame:
    """Current near-dup group assignment over ALL documents seen so
    far — identical to the batch operator on the same fingerprint
    relation, so a two-batch split and a single batch agree row for
    row (reps and sizes see the same merged corpus either way)."""
    return multimodal.image_near_dup_groups(
        stored_fingerprints(spark, store_root), max_hamming=max_hamming
    )
