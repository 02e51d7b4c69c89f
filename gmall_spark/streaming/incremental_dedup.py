"""Incremental (streaming) MinHash+LSH near-dup detection.

Extends the batch pipeline (operators.llm_dedup.minhash_lsh_dedup,
SURVEY X4) into the shape a continuously-ingesting corpus needs: each
micro-batch of new documents is shingled, signed and banded exactly
like the batch path, then joined against a PERSISTED signature store
holding every previously-seen document's band hashes — so a new doc
is checked against the whole corpus-so-far without ever rescanning
it. The store is three epoch stores (``<store>/<sub>/epoch=<batch_id>``,
the layout of :mod:`gmall_spark.streaming.store`):

- ``bands``:    (doc_id, band_idx, band_hash) — the LSH index
- ``shingles``: (doc_id, shingles)            — for exact verification
- ``pairs``:    (doc_a, doc_b, inter, jaccard) — verified output

Per batch the work is: sign the batch (per-row, no shuffle), one
equi-join of the batch's bands against the store's on
(band_idx, band_hash), plus exact-Jaccard verification of the (tiny)
candidate set.

A batch probes only the epochs before its own and overwrites its own
epoch, so a replayed batch changes nothing. The probe join shuffles
the store side when the batch side is too big to broadcast.

Batch-equals-streaming: a pair is discovered in the batch where its
LATER member arrives (within-batch pairs come from the batch's self
join), and pairs are canonicalized doc_a < doc_b, so the union of
emitted pairs after any batch split equals the single-batch
``minhash_lsh_dedup`` output on the full corpus. The equality is
asserted by tests/test_streaming.py.

Deployment: wire :func:`process_batch` into
``runner.run_foreach_batch`` (the same micro-batch shell every other
foreachBatch pipeline here uses); a Kafka source swaps in upstream of
it unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_spark.operators import llm_dedup
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_BANDS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band_idx", T.IntegerType()),
        T.StructField("band_hash", T.StringType()),
    ]
)
_SHINGLES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("shingles", T.ArrayType(T.StringType())),
    ]
)


def probe_candidates(batch_bands: DataFrame, seen_bands: DataFrame) -> DataFrame:
    """Candidate pairs from one (batch bands) x (seen bands) equi-join
    on (band_idx, band_hash), canonicalized doc_a < doc_b. The batch
    side is the small side by construction."""
    return (
        batch_bands.join(
            seen_bands.select(
                F.col("doc_id").alias("doc_o"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("doc_id") != F.col("doc_o"))
        .select(
            F.least("doc_id", "doc_o").alias("doc_a"),
            F.greatest("doc_id", "doc_o").alias("doc_b"),
        )
    )


def process_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    store_dir: str,
    batch_id: int,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = llm_dedup.NGRAM_N,
    k: int = llm_dedup.MINHASH_K,
    bands: int = llm_dedup.LSH_BANDS,
) -> DataFrame:
    """Dedup one micro-batch against the signature store (the batches
    before ``batch_id``); store the verified new pairs and the batch's
    signatures/shingles under ``batch_id``; return the new pairs
    (same schema as the batch operator: doc_a, doc_b, inter,
    jaccard)."""
    with_arr = batch_docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        llm_dedup.shingle_array(text_col, n).alias("shingles"),
    ).persist()
    sh = with_arr.select("doc_id", F.explode("shingles").alias("shingle"))
    new_bands = llm_dedup.band_signatures(
        llm_dedup.minhash_signatures(sh, k), bands, k
    ).persist()

    old_bands = read_epochs(spark, f"{store_dir}/bands", _BANDS_SCHEMA, batch_id)
    # candidates: each NEW doc against everything seen so far
    # (including this batch — within-batch pairs), canonical a < b.
    cand = (
        probe_candidates(new_bands, new_bands)
        .unionByName(probe_candidates(new_bands, old_bands))
        .distinct()
    )
    # No re-emission across batches: every candidate has at least one
    # member from THIS batch (never seen before), so a pair can only
    # be generated in the batch where its later member arrives; the
    # distinct above collapses multi-band collisions within it.
    old_shingles = read_epochs(
        spark, f"{store_dir}/shingles", _SHINGLES_SCHEMA, batch_id
    )
    all_arr = old_shingles.unionByName(with_arr)
    pairs = llm_dedup.jaccard_for_arrays(cand, all_arr, threshold)

    for sub, df in (("pairs", pairs), ("bands", new_bands), ("shingles", with_arr)):
        idempotent_parquet_write(f"{store_dir}/{sub}")(df, batch_id)
    with_arr.unpersist()
    new_bands.unpersist()
    return pairs


def emitted_pairs(spark: SparkSession, store_dir: str) -> DataFrame:
    """All pairs emitted so far (union over processed batches)."""
    return read_epochs(spark, f"{store_dir}/pairs")
