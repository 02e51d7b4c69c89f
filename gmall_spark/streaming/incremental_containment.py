"""Incremental (streaming) containment near-dup detection — the X107
pass as a continuous pipeline (the last r6 batch family without an
incremental story; X106/X108 got theirs in r6/r7).

State is the distinct ``(doc_id, shingle)`` postings relation —
it only grows, one epoch per batch, because documents only ever
ARRIVE (a deletion runs
through the X89 retention path instead). Per micro-batch:

1. shingle the batch's documents (the X107 front door's own
   ``word_shingles`` — per-row HOF, no token shuffle);
2. write the batch's postings to its own epoch
   (``postings/epoch=<id>`` — an idempotent overwrite, so a
   foreachBatch retry rewrites byte-identical rows and never
   double-counts).

:func:`current_pairs` derives the CURRENT pair set from the merged
postings through the exact batch core
(llm_dedup.containment_pairs_from_shingles), so after ANY batch split
the result is row-identical to running the batch operator over all
documents seen so far. Retroactivity is two-sided and comes for free
from the re-derivation: a shingle with df=1 in batch 1 starts BLOCKING
when batch 2 brings its second doc (new pairs appear), and a shingle
whose df climbs past ``max_df`` STOPS blocking (pairs it alone
caught disappear — the frequent-shingle fanout guard is corpus-global,
not per-batch). Both directions are pinned by the planted fixture in
tests/test_streaming.py.

Scale shape: per-batch state is the batch's own postings — the
minimum any exact-intersection verifier needs; everything downstream
inherits the batch operator's bounds (df-capped blocking ≤ max_df²/2
pairs per shingle, corpus-linear candidates). At 100 TB the postings
store becomes a bucketed table on shingle and the re-derive a
scheduled rollup; the layout carries over unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from gmall_spark.operators import llm_dedup
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_POSTINGS_SCHEMA = "doc_id long, shingle string"


def process_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    store_root: str,
    batch_id: int,
    n: int = llm_dedup.NGRAM_N,
) -> None:
    """Shingle one micro-batch and write its distinct
    (doc_id, shingle) postings to the batch's own epoch. Replay-safe:
    shingling is deterministic and the write is a per-epoch overwrite."""
    idempotent_parquet_write(f"{store_root}/postings")(
        llm_dedup.word_shingles(batch_docs, n=n), batch_id
    )


def stored_postings(spark: SparkSession, store_root: str) -> DataFrame:
    """Every (doc_id, shingle) posting ingested so far."""
    return read_epochs(spark, f"{store_root}/postings", _POSTINGS_SCHEMA)


def current_pairs(
    spark: SparkSession,
    store_root: str,
    max_df: int = llm_dedup.CONTAIN_MAX_DF,
    num: int = llm_dedup.CONTAIN_NUM,
    den: int = llm_dedup.CONTAIN_DEN,
) -> DataFrame:
    """Current containment pair set over ALL documents seen so far —
    identical to the batch operator on the same corpus (the blocking
    dfs and exact intersections see the same merged postings either
    way). The merged relation feeds six subtrees inside the core, so
    it is persisted exactly like the batch front door's shingles."""
    sh = stored_postings(spark, store_root).persist(StorageLevel.MEMORY_AND_DISK)
    return llm_dedup.containment_pairs_from_shingles(
        sh, max_df=max_df, num=num, den=den
    )
