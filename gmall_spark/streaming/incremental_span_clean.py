"""Incremental (streaming) C4-style span clean: continuous corpus
cleaning as documents arrive.

Extends operators/llm_dedup.span_dedup_clean (SURVEY X104) the way
incremental_dedup extends the batch MinHash pipeline (X19): each
micro-batch's spans are checked keep-first WITHIN the batch (one
span-hash window) and against the persisted claimed-hash store (one
left join), and the batch's per-doc cleaned rows and newly-claimed
hashes land in its own epoch of the results and hash stores. With
batches arriving in doc_id order, the union of emitted rows after ANY
batch split is row-identical to the batch operator over the whole
corpus (asserted by tests/test_streaming.py).

Store layout: both stores are epoch-partitioned
(``hashes/epoch=<batch_id>``, ``docs/epoch=<batch_id>``) and a batch
reads only the hash epochs before its own, so its write target is
never a path its own plan reads. State is O(distinct spans):
inherent to exact global dedup (a Bloom filter's fixed bit budget
does not apply — membership must be exact or a false positive
DELETES content).

Wire :func:`process_batch` into ``runner.run_foreach_batch``; a Kafka
document topic swaps in upstream unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_spark.operators import llm_dedup
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_HASH_SCHEMA = "h string"
_OUT_SCHEMA = (
    "doc_id long, n_spans bigint, removed_spans bigint, clean_md5 string"
)


def claimed_hashes(
    spark: SparkSession, store_root: str, before: int | None = None
) -> DataFrame:
    """Every span hash claimed by the batches before ``before`` (all
    batches by default).

    ``before`` is the replay guard: a RETRIED micro-batch must not
    see the hashes its failed attempt already claimed, or every kept
    span would flip to removed on the second run."""
    return read_epochs(spark, f"{store_root}/hashes", _HASH_SCHEMA, before)


def process_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    store_root: str,
    batch_id: int,
    span_w: int = 10,
) -> None:
    """Clean one micro-batch against the claimed-hash store; write
    the per-doc cleaned rows and the batch's newly-claimed hashes to
    the batch's own epochs.

    Replay-safe under foreachBatch retries: the read side keeps only
    earlier epochs (a failed attempt may have written this one), and
    both writes are idempotent per-epoch overwrites."""
    seen = claimed_hashes(spark, store_root, before=batch_id).withColumn(
        "__seen", F.lit(1)
    )
    w = Window.partitionBy("h").orderBy("doc_id", "idx")
    flagged = (
        llm_dedup.span_rows(batch_docs, span_w)
        .withColumn("rn", F.row_number().over(w))
        .join(seen, "h", "left")  # AQE broadcasts small stores; at
        # scale this is the bucket-pruned probe (module docstring)
        .withColumn(
            "kept", (F.col("rn") == 1) & F.col("__seen").isNull()
        )
        .persist()
    )
    try:
        idempotent_parquet_write(f"{store_root}/docs")(
            llm_dedup.span_doc_rollup(flagged), batch_id
        )
        # newly-claimed hashes: exactly the kept spans (rn==1 makes
        # them unique within the batch)
        idempotent_parquet_write(f"{store_root}/hashes")(
            flagged.filter("kept").select("h"), batch_id
        )
    finally:
        flagged.unpersist()


def emitted_docs(spark: SparkSession, store_root: str) -> DataFrame:
    """All per-doc cleaned rows emitted so far."""
    return read_epochs(spark, f"{store_root}/docs", _OUT_SCHEMA)
